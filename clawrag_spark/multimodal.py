"""Multimodal columns: opaque binary media + typed metadata.

The reference only extracts EXIF-ish image metadata and never decodes
pixels (extraction_service.py:180-185 — image files yield metadata-only
results).  A 100 TB training-data pipeline needs the full plumbing:
media as ``binary`` columns with typed metadata structs, and
decode / feature-extract / resize / frame-sample stages as vectorized
Arrow UDFs.

This container has no image/audio codecs, so the *decode kernel* is
swappable: by default a clearly-marked deterministic fake decoder keyed
on the payload hash (real Spark-side plumbing — schema, partitioning,
UDF signatures, Arrow batch shapes — all real and tested); installing
Pillow/av flips ``HAVE_PIL``/``HAVE_AV`` and the same stages run real
codecs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not installed in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

try:  # pragma: no cover
    import av  # noqa: F401

    HAVE_AV = True
except ImportError:
    HAVE_AV = False


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("format", T.StringType()),       # sniffed container
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        # exifread-style {tag: printable} map (reference parity:
        # image_loader.py emits metadata['exif'] only when non-empty —
        # here null when absent); real APP1/TIFF/tEXt parse, no libs
        T.StructField(
            "exif", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)

_MAGIC = [
    (b"\xff\xd8\xff", "image", "jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image", "png"),
    (b"GIF8", "image", "gif"),
    (b"BM", "image", "bmp"),
    (b"P6", "image", "ppm"),
    (b"RIFF", "audio", "wav"),      # RIFF....WAVE checked below
    (b"ID3", "audio", "mp3"),
    (b"\x00\x00\x00\x18ftyp", "video", "mp4"),
    (b"\x00\x00\x00\x20ftyp", "video", "mp4"),
]


def _sniff(payload: bytes) -> tuple[str, str]:
    for magic, mtype, fmt in _MAGIC:
        if payload.startswith(magic):
            if fmt == "wav" and payload[8:12] != b"WAVE":
                continue
            if fmt == "ppm" and (len(payload) < 3 or payload[2:3] not in b" \t\n\r"):
                continue  # 'P6' must be followed by whitespace
            return mtype, fmt
    # raw MPEG audio frame sync (no ID3 tag): require a FULLY valid
    # Layer-III header (non-reserved version, layer III, valid
    # bitrate/samplerate indices) at offset 0, not just the 11 sync
    # bits — a UTF-16LE BOM (FF FE) otherwise misclassifies as
    # audio/mp3, and a header found further in is not the one that
    # triggered this branch
    if (
        len(payload) >= 4
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
        and parse_mp3_header(payload[:4]) is not None
    ):
        return "audio", "mp3"
    return "unknown", "unknown"


# ------------------------------------------------ real decoders (no libs)
# BMP (24/32-bit uncompressed BI_RGB), binary PPM (P6), PNG (8-bit
# gray/RGB/RGBA, non-interlaced — stdlib zlib + the five filter
# predictors), GIF (non-interlaced, real LZW) and baseline JPEG
# (T.81 sequential DCT, tables read from the file's own DQT/DHT,
# 4:4:4 / 4:2:2 / 4:2:0, restart markers) decode REAL pixels
# end-to-end in this container.  Progressive JPEG falls back to the
# deterministic stand-in.

def encode_bmp(img: np.ndarray) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bit BMP writer (test-fixture twin of
    ``decode_bmp``; bottom-up rows, BGR, 4-byte row padding)."""
    import struct

    h, w = img.shape[:2]
    row = w * 3
    pad = (-row) % 4
    body = b"".join(
        img[y, :, ::-1].astype(np.uint8).tobytes() + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24/32-bit BI_RGB BMP to HxWx3 uint8 RGB."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        raise ValueError(f"unsupported DIB header size {dib_size}")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    flip = h > 0          # positive height = bottom-up row order
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    data = np.frombuffer(payload, np.uint8, count=stride * h, offset=pixel_off)
    rows = data.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    rgb = rows[:, :, 2::-1]  # BGR(A) → RGB
    return (rgb[::-1] if flip else rgb).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6, maxval ≤ 255) to HxWx3 uint8 RGB,
    honouring whitespace/#-comment header grammar."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError(f"16-bit PPM not supported (maxval={maxval})")
    data = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3).copy()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit RGB/RGBA/gray, no interlace) — the
    test-fixture twin of ``decode_png``.  ``filter_type`` applies one
    scanline filter (0..4) to EVERY row so round-trip tests can
    exercise each predictor, not just filter 0."""
    import struct
    import zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    ctype = {1: 0, 3: 2, 4: 6}[nch]
    img = img.astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(w * nch, np.uint8)
    for y in range(h):
        row = img[y].reshape(-1)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(nch, np.uint8), row[:-nch]])
            filt = row - left
        elif filter_type == 2:  # Up
            filt = row - prev
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(nch, np.uint8), row[:-nch]])
            filt = row - ((left.astype(np.uint16) + prev) // 2).astype(np.uint8)
        elif filter_type == 4:  # Paeth
            left = np.concatenate([np.zeros(nch, np.uint8), row[:-nch]])
            ul = np.concatenate([np.zeros(nch, np.uint8), prev[:-nch]])
            filt = row - _paeth(left, prev, ul)
        else:
            raise ValueError(f"unknown filter {filter_type}")
        raw.append(filter_type)
        raw += filt.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (RFC 2083 §6.6) over whole scanlines."""
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = ul.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced gray/RGB/RGBA PNG to HxWxC uint8
    — stdlib ``zlib`` + the five scanline filter predictors, no codec
    library.  Filters Sub/Up are vectorized (per-channel-lane cumsum /
    row add); Average and Paeth recurse on the just-reconstructed left
    neighbour, so they reconstruct pixel-sequentially per row with the
    up/upper-left terms precomputed as arrays.
    """
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt_method, interlace = ihdr
    nch = {0: 1, 2: 3, 6: 4}.get(color_type)
    if depth != 8 or nch is None or comp != 0 or filt_method != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={color_type}, "
            f"interlace={interlace}) — 8-bit gray/RGB/RGBA only"
        )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream corrupt: {exc}") from exc
    stride = w * nch
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG scanline data has wrong length")
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        row = np.frombuffer(raw, np.uint8, stride, p + 1).copy()
        p += 1 + stride
        if f == 0:
            rec = row
        elif f == 1:  # Sub: per-channel-lane running sum mod 256
            rec = row
            for c in range(nch):
                rec[c::nch] = np.cumsum(rec[c::nch], dtype=np.uint64) & 0xFF
        elif f == 2:  # Up: uint8 addition wraps mod 256 per spec
            rec = row + prev
        elif f == 3:  # Average
            rec = row
            for x in range(stride):
                left = int(rec[x - nch]) if x >= nch else 0
                rec[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = row
            for x in range(stride):
                a = int(rec[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out[y] = rec
        prev = rec
    return out.reshape(h, w, nch).copy()


def _header_dims(payload: bytes, fmt: str) -> tuple[int, int] | None:
    """Real (height, width) from the container header, codec-free."""
    import struct

    try:
        if fmt == "bmp":
            w, h = struct.unpack_from("<ii", payload, 18)
            return abs(h), abs(w)
        if fmt == "ppm":
            img_hw = decode_ppm(payload).shape[:2]
            return img_hw[0], img_hw[1]
        if fmt == "png":  # IHDR: width/height big-endian at offset 16
            w, h = struct.unpack_from(">II", payload, 16)
            return h, w
        if fmt == "gif":  # logical screen descriptor at offset 6
            w, h = struct.unpack_from("<HH", payload, 6)
            return h, w
        if fmt == "jpeg":  # walk segments to the first SOFn marker
            pos = 2
            while pos + 9 < len(payload):
                if payload[pos] != 0xFF:
                    pos += 1
                    continue
                marker = payload[pos + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    return h, w
                seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
                pos += 2 + seg_len
    except (struct.error, ValueError, IndexError):
        return None
    return None


def _fake_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in dimensions derived from the content hash.

    Used only for formats whose headers we don't parse; replaced by the
    real header parse for bmp/ppm/png/gif/jpeg above.
    """
    h = hashlib.sha256(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


@F.pandas_udf(MEDIA_META_SCHEMA)
def media_metadata(payload: pd.Series) -> pd.DataFrame:
    """Sniff + measure media payloads (vectorized, Arrow batches)."""
    out = {k: [] for k in ("media_type", "format", "width", "height",
                           "n_bytes", "content_hash", "exif")}
    for p in payload:
        p = p or b""
        mtype, fmt = _sniff(p)
        dims = _header_dims(p, fmt) if p else (0, 0)
        if dims is None:
            dims = _fake_dims(p)
        h, w = dims
        out["media_type"].append(mtype)
        out["format"].append(fmt)
        out["width"].append(w)
        out["height"].append(h)
        out["n_bytes"].append(len(p))
        out["content_hash"].append(hashlib.sha256(p).hexdigest())
        tags = parse_exif(p) if mtype == "image" else {}
        out["exif"].append(tags or None)
    return pd.DataFrame(out)


def _decode_image(payload: bytes) -> np.ndarray:
    """Decode to an HxWx3 uint8 array.

    BMP (24/32-bit BI_RGB), PPM (P6), and PNG (8-bit gray/RGB/RGBA,
    non-interlaced) decode for REAL, codec-free (decode_bmp /
    decode_ppm / decode_png above).  Other formats need Pillow; without
    it the deterministic fake emits a seeded gradient so downstream
    stages (resize, feature extract) still exercise real numpy work on
    real batch shapes.
    """
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6" and payload[2:3] in b" \t\n\r":
        return decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        import struct
        import zlib

        try:
            img = decode_png(payload)
            if img.shape[2] == 1:       # gray → RGB
                return np.repeat(img, 3, axis=2)
            return img[:, :, :3].copy()  # RGBA → drop alpha
        except (ValueError, zlib.error, struct.error, IndexError):
            pass  # corrupt/unsupported PNG in a crawl → stand-in below
    if payload[:4] == b"GIF8":
        import struct

        try:
            return decode_gif(payload)
        except (ValueError, struct.error, IndexError):
            pass  # corrupt/unsupported GIF → stand-in below
    if payload[:3] == b"\xff\xd8\xff":
        import struct

        try:
            img = decode_jpeg(payload)
            if img.shape[2] == 1:        # grayscale → RGB
                return np.repeat(img, 3, axis=2)
            return img
        except (ValueError, struct.error, IndexError, StopIteration):
            pass  # corrupt/progressive JPEG in a crawl → stand-in below
    if HAVE_PIL:  # pragma: no cover
        raise NotImplementedError("wire PIL.Image.open here when codecs exist")
    h, w = _fake_dims(payload)
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


FEATURE_DIM = 27  # 3x3x3 color histogram


def image_features_udf(resize_to: int = 32):
    """mapInPandas stage: binary image column → fixed-dim float feature.

    Output schema: ``(content_hash string, feature array<float>)`` —
    the plumbing a CLIP-style embedder would use (batch decode →
    resize → feature), with the decode kernel swappable.
    """

    schema = T.StructType(
        [
            T.StructField("content_hash", T.StringType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
        ]
    )

    def run(iterator):
        for batch in iterator:
            hashes, feats = [], []
            for p in batch["media"]:
                p = p or b""
                img = _decode_image(p)
                # nearest-neighbour resize (deterministic, numpy-only)
                ys = np.linspace(0, img.shape[0] - 1, resize_to).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, resize_to).astype(int)
                small = img[np.ix_(ys, xs)]
                # 3x3x3 color histogram, L1-normalized
                q = (small // 86).reshape(-1, 3)
                idx = q[:, 0] * 9 + q[:, 1] * 3 + q[:, 2]
                hist = np.bincount(idx, minlength=FEATURE_DIM).astype(np.float64)
                hist /= max(hist.sum(), 1.0)
                hashes.append(hashlib.sha256(p).hexdigest())
                feats.append([float(x) for x in hist])
            yield pd.DataFrame({"content_hash": hashes, "feature": feats})

    return run, schema


def extract_image_features(media_df: DataFrame, media_col: str = "media",
                           resize_to: int = 32) -> DataFrame:
    """Run the decode→resize→feature stage over a binary media column."""
    run, schema = image_features_udf(resize_to)
    return media_df.select(F.col(media_col).alias("media")).mapInPandas(run, schema)


def ahash64_py(img: np.ndarray) -> int:
    """64-bit perceptual average-hash of an HxWx3 uint8 image (the
    aHash of the pHash family): integer BT.601 luma, nearest-neighbour
    8x8 downsample, threshold each cell at the 8x8 mean.  Entirely
    integer until the final mean — deterministic across platforms.
    Returned SIGNED (two's complement) so it stores in a Spark long.

    Invariant under uniform brightness shifts (luma+c moves the mean by
    c, leaving every comparison unchanged) and robust to small local
    edits — the properties LAION-style image dedup leans on.
    """
    ys = np.linspace(0, img.shape[0] - 1, 8).astype(int)
    xs = np.linspace(0, img.shape[1] - 1, 8).astype(int)
    small = img[np.ix_(ys, xs)].astype(np.int64)
    luma = (299 * small[:, :, 0] + 587 * small[:, :, 1] + 114 * small[:, :, 2]) // 1000
    bits = (luma > luma.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


_DCT_BASES: dict[int, np.ndarray] = {}


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (cached per size): row k is
    sqrt(2/n)·cos(π(2j+1)k/2n) with the k=0 row scaled by 1/sqrt(2).
    ``D @ A @ D.T`` is then the 2-D DCT of A — plain float64 matmul,
    no scipy dependency.  Shared by the pHash 32x32 transform and the
    JPEG codec's 8x8 blocks."""
    if n not in _DCT_BASES:
        j = np.arange(n)
        k = j.reshape(-1, 1)
        d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * j + 1) * k / (2 * n))
        d[0] /= np.sqrt(2.0)
        _DCT_BASES[n] = d
    return _DCT_BASES[n]


def phash64_py(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash (the pHash proper, ImageHash
    semantics): integer BT.601 luma, nearest-neighbour 32x32
    downsample, 2-D DCT-II, keep the top-left 8x8 low-frequency block,
    threshold every coefficient at the block's median.  Robust to
    resizing/blur/recompression — the transforms web re-hosting applies
    — where aHash only survives brightness shifts and small edits.
    Returned SIGNED so it stores in a Spark long."""
    ys = np.linspace(0, img.shape[0] - 1, 32).astype(int)
    xs = np.linspace(0, img.shape[1] - 1, 32).astype(int)
    small = img[np.ix_(ys, xs)].astype(np.int64)
    luma = (
        299 * small[:, :, 0] + 587 * small[:, :, 1] + 114 * small[:, :, 2]
    ) // 1000
    d = _dct_basis(32)
    low = (d @ luma.astype(np.float64) @ d.T)[:8, :8]
    bits = (low > np.median(low)).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


_HASH_FNS = {"ahash": ahash64_py, "phash": phash64_py}


def image_hashes(
    media_df: DataFrame,
    id_col: str,
    media_col: str = "media",
    method: str = "ahash",
) -> DataFrame:
    """(id, <method>) via one Arrow-batched mapInPandas pass: batch
    decode (real BMP/PPM/PNG/GIF/baseline-JPEG codecs) → integer
    perceptual hash.  The id column rides through the UDF so no
    re-join is needed."""
    if method not in _HASH_FNS:
        raise ValueError(f"unknown hash method {method!r}")
    fn = _HASH_FNS[method]
    schema = T.StructType(
        [
            T.StructField("img_id", T.LongType()),
            T.StructField(method, T.LongType()),
        ]
    )

    def run(iterator):
        for batch in iterator:
            ids, hashes = [], []
            for i, p in zip(batch["img_id"], batch["media"]):
                ids.append(int(i))
                hashes.append(fn(_decode_image(p or b"")))
            yield pd.DataFrame(
                {"img_id": ids, method: pd.array(hashes, dtype="int64")}
            )

    return media_df.select(
        F.col(id_col).cast("long").alias("img_id"), F.col(media_col).alias("media")
    ).mapInPandas(run, schema)


def image_near_dups(
    media_df: DataFrame,
    id_col: str,
    media_col: str = "media",
    max_hamming: int = 6,
    method: str = "ahash",
) -> DataFrame:
    """Perceptual image near-dup pairs: aHash or pHash (DCT)
    fingerprints → the SAME banded Hamming join SimHash text dedup uses
    (``dataset.hamming_band_pairs``: pigeonhole-complete bands, one
    self-equi-join, exact bit_count verify — never all pairs).  At
    10^12 images the fingerprint pass is the only decode touch; the
    join shuffles 8-byte hashes."""
    from .operators.dataset import hamming_band_pairs

    hashed = image_hashes(media_df, id_col, media_col, method=method)
    return hamming_band_pairs(hashed, "img_id", method, max_hamming)


def frame_sample_plan(video_df: DataFrame, media_col: str, every_n: int = 30) -> DataFrame:
    """Frame-sampling *plan* for video payloads: emits (content_hash,
    frame_index) rows for every ``every_n``-th frame of a (fake) frame
    count derived from payload size — real decoders replace the count.
    The explode shape (one row per sampled frame, partitioned by the
    video's hash bucket) is the part that matters at scale."""
    n_frames = (F.octet_length(F.col(media_col)) / F.lit(1024)).cast("int") + 1
    return (
        video_df.select(
            F.sha2(F.col(media_col), 256).alias("content_hash"),
            F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias(
                "frame_index"
            ),
        )
    )


# ------------------------------------------------------------------ GIF

def encode_gif(img: np.ndarray) -> bytes:
    """Minimal GIF89a writer (single frame, global color table, real
    LZW) — the test-fixture twin of ``decode_gif``.  The palette is
    built from the image's unique colors (≤256)."""
    import struct

    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("encode_gif supports <=256 unique colors")
    depth = max(2, int(np.ceil(np.log2(max(len(palette), 2)))))
    table = np.zeros((2**depth, 3), np.uint8)
    table[: len(palette)] = palette
    indices = inverse.astype(np.int32)

    # LZW encode: LSB-first bit packing; code width grows in lockstep
    # with the decoder (decoder widens when its table REACHES 2^width
    # after an append, so the encoder widens when dict_next does)
    min_code = depth
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    bits = bytearray()
    state = {"acc": 0, "n": 0, "width": min_code + 1}

    def emit(code: int) -> None:
        state["acc"] |= code << state["n"]
        state["n"] += state["width"]
        while state["n"] >= 8:
            bits.append(state["acc"] & 0xFF)
            state["acc"] >>= 8
            state["n"] -= 8

    def reset_dict():
        state["width"] = min_code + 1
        return {(i,): i for i in range(1 << min_code)}, eoi + 1

    emit(clear)
    table_d, dict_next = reset_dict()
    seq: tuple = ()
    for px in indices:
        cand = seq + (int(px),)
        if cand in table_d:
            seq = cand
            continue
        emit(table_d[seq])
        if dict_next < (1 << 12):
            table_d[cand] = dict_next
            dict_next += 1
            # the decoder lags the encoder by exactly one entry (it
            # builds E_{k-1} while reading c_k), so the encoder widens
            # one add LATER than the decoder's size==2^width rule
            if dict_next == (1 << state["width"]) + 1 and state["width"] < 12:
                state["width"] += 1
        else:
            emit(clear)
            table_d, dict_next = reset_dict()
        seq = (int(px),)
    if seq:
        emit(table_d[seq])
    emit(eoi)
    if state["n"]:
        bits.append(state["acc"] & 0xFF)

    blob = bytearray()
    blob += b"GIF89a"
    blob += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0)
    blob += table.tobytes()
    blob += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    blob.append(min_code)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        blob.append(len(chunk))
        blob += chunk
    blob += b"\x00\x3b"
    return bytes(blob)


def decode_gif(payload: bytes) -> np.ndarray:
    """Decode the first frame of a non-interlaced GIF87a/89a to HxWx3
    uint8 RGB — real LZW with variable code width, dictionary resets,
    and sub-block reassembly; extensions are skipped per the grammar.
    """
    import struct

    if payload[:4] != b"GIF8" or len(payload) < 13:
        raise ValueError("not a GIF payload")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:
            left, top, iw, ih, ipack = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            table = gct
            if ipack & 0x80:
                n = 2 ** ((ipack & 0x07) + 1)
                table = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ipack & 0x40:
                raise ValueError("interlaced GIF not supported")
            if table is None:
                raise ValueError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _lzw_decode(bytes(data), min_code, iw * ih)
            img = table[np.array(indices, np.int32)].reshape(ih, iw, 3)
            return img.copy()
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x} at {pos}")
    raise ValueError("GIF contains no image data")


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> list[int]:
    """GIF LZW: LSB-first bit stream, width grows after the dictionary
    fills the current width, CLEAR resets, EOI ends."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table: list[tuple] = [(i,) for i in range(1 << min_code)] + [(), ()]
    out: list[int] = []
    acc = n_acc = bit_pos = 0
    prev: tuple | None = None
    i = 0
    while len(out) < n_pixels and i <= len(data):
        while n_acc < width and i < len(data):
            acc |= data[i] << n_acc
            n_acc += 8
            i += 1
        if n_acc < width:
            break
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_acc -= width
        if code == clear:
            table = [(j,) for j in range(1 << min_code)] + [(), ()]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} of {len(table)}")
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(f"LZW stream short: {len(out)} of {n_pixels} pixels")
    return out[:n_pixels]


# ------------------------------------------------------------------ WAV

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer (PCM16, mono or multichannel) — fixture
    twin of ``decode_wav``.  ``samples`` is (n,) or (n, channels) int16."""
    import struct

    if samples.ndim == 1:
        samples = samples[:, None]
    n, nch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, nch, sample_rate, sample_rate * nch * 2, nch * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM16 RIFF/WAVE payload to ((n, channels) int16 array,
    sample_rate) — real chunk-walking parse, stdlib struct only."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, nch, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    samples = np.frombuffer(data, "<i2")
    samples = samples[: (len(samples) // nch) * nch].reshape(-1, nch)
    return samples.copy(), rate


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def extract_audio_features(media_df: DataFrame, media_col: str = "media") -> DataFrame:
    """Decode→feature stage for audio payloads: PCM16 WAV decodes for
    REAL (duration, RMS, peak over normalized samples); MP3 gets a
    REAL frame-header parse (sample_rate + CBR duration estimate) with
    sample features null (honest: no MPEG decode in this container);
    other audio formats yield null features.  Same mapInPandas shape
    as the image feature stage."""

    def run(iterator):
        import struct

        for batch in iterator:
            out = {k: [] for k in (
                "content_hash", "sample_rate", "n_samples",
                "duration_sec", "rms", "peak",
            )}
            for p in batch["media"]:
                p = bytes(p or b"")
                out["content_hash"].append(hashlib.sha256(p).hexdigest())
                try:
                    samples, rate = decode_wav(p)
                except (ValueError, struct.error, IndexError):
                    mp3 = (
                        parse_mp3_header(p)
                        if _sniff(p)[1] == "mp3"
                        else None
                    )
                    out["sample_rate"].append(
                        mp3["sample_rate"] if mp3 else None
                    )
                    out["n_samples"].append(None)
                    out["duration_sec"].append(
                        round(mp3["duration_sec"], 6) if mp3 else None
                    )
                    out["rms"].append(None)
                    out["peak"].append(None)
                    continue
                x = samples.astype(np.float64) / 32768.0
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(int(samples.shape[0]))
                out["duration_sec"].append(
                    float(samples.shape[0] / rate) if rate else 0.0
                )
                out["rms"].append(float(np.sqrt((x**2).mean())) if x.size else 0.0)
                out["peak"].append(float(np.abs(x).max()) if x.size else 0.0)
            yield pd.DataFrame(out)

    return media_df.select(F.col(media_col).alias("media")).mapInPandas(
        run, AUDIO_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------- JPEG
# Real baseline JPEG (ITU-T T.81 sequential DCT): stdlib-only encoder
# (fixture builder) + decoder.  The decoder reads quantization and
# Huffman tables from the file's own DQT/DHT segments — it decodes any
# baseline JPEG with 8-bit precision and sampling factors ≤2 (4:4:4,
# 4:2:2, 4:2:0 cover effectively every web JPEG), including restart
# markers.  Reference parity point: the reference pipes images through
# Docling/PIL (backend/src/services/extraction_service.py:180-185);
# here the hot path stays numpy (blockwise DCT as two 8x8 matmuls).

_ZIGZAG = [
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K tables: quantization (K.1/K.2) and the typical Huffman tables
# (K.3-K.6) as (bits[1..16], huffval) — written into DQT/DHT by the
# encoder, so encoder and decoder stay self-consistent by construction.
_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,  12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,  14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,  24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,  72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,  18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,  47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32

_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _dct_matrix() -> np.ndarray:
    """8x8 orthonormal DCT-II matrix: dct(B) = D @ B @ D.T."""
    return _dct_basis(8)


def _huff_encode_table(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical Huffman (T.81 C.2): value → (code, length)."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _quality_scale(table, quality: int) -> np.ndarray:
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (np.array(table, dtype=np.int64) * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def mark_restart(self, n: int) -> None:
        """Byte-align (pad with 1s) and emit RSTn — markers are raw,
        never byte-stuffed (T.81 B.1.1.3)."""
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)
        self.buf += bytes([0xFF, 0xD0 + (n % 8)])

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2.1: (category, additional bits) for a coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a baseline JFIF JPEG.

    ``subsample=True`` writes 4:2:0 (chroma averaged over 2x2), else
    4:4:4.  ``restart_interval`` > 0 writes a DRI segment and emits an
    RSTn marker (with DC-predictor reset) every that-many MCUs — the
    structure real encoders use so corrupt scans can resynchronize.
    Deterministic: same pixels → same bytes.
    """
    import struct

    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg wants HxWx3 uint8")
    h, w = img.shape[:2]
    rgb = img.astype(np.float64)
    y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    cb = -0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2] + 128
    cr = 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2] + 128

    if subsample:  # 4:2:0 — chroma averaged over 2x2 (edge-padded)
        def _down2(p: np.ndarray) -> np.ndarray:
            p = np.pad(p, ((0, (-p.shape[0]) % 2), (0, (-p.shape[1]) % 2)), mode="edge")
            return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))

        cb, cr = _down2(cb), _down2(cr)

    qt_l = _quality_scale(_QT_LUMA, quality)     # zigzag order
    qt_c = _quality_scale(_QT_CHROMA, quality)
    # de-zigzag into natural 8x8 layout for the blockwise quantize
    qnat_l = np.empty(64, np.int32)
    qnat_c = np.empty(64, np.int32)
    for zz, nat in enumerate(_ZIGZAG):
        qnat_l[nat] = qt_l[zz]
        qnat_c[nat] = qt_c[zz]
    qnat_l = qnat_l.reshape(8, 8)
    qnat_c = qnat_c.reshape(8, 8)

    D = _dct_matrix()

    def blocks_of(plane: np.ndarray, qnat: np.ndarray) -> np.ndarray:
        ph = -plane.shape[0] % 8
        pw = -plane.shape[1] % 8
        p = np.pad(plane, ((0, ph), (0, pw)), mode="edge") - 128.0
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        b = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)       # (bh,bw,8,8)
        coef = np.einsum("ij,abjk,lk->abil", D, b, D)
        return np.round(coef / qnat).astype(np.int64)

    yb = blocks_of(y, qnat_l)
    cbb = blocks_of(cb, qnat_c)
    crb = blocks_of(cr, qnat_c)

    enc_dc = [_huff_encode_table(*_DC_LUMA), _huff_encode_table(*_DC_CHROMA)]
    enc_ac = [_huff_encode_table(*_AC_LUMA), _huff_encode_table(*_AC_CHROMA)]
    bw_ = _BitWriter()
    pred = [0, 0, 0]
    zz = np.array(_ZIGZAG)

    def put_block(block: np.ndarray, comp: int, tbl: int) -> None:
        flat = block.reshape(64)[zz]
        s, extra = _magnitude(int(flat[0]) - pred[comp])
        pred[comp] = int(flat[0])
        code, ln = enc_dc[tbl][s]
        bw_.write(code, ln)
        if s:
            bw_.write(extra, s)
        run = 0
        nz = np.nonzero(flat[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(flat[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[tbl][0xF0]     # ZRL
                bw_.write(code, ln)
                run -= 16
            s, extra = _magnitude(v)
            code, ln = enc_ac[tbl][(run << 4) | s]
            bw_.write(code, ln)
            bw_.write(extra, s)
            run = 0
        if last < 63:
            code, ln = enc_ac[tbl][0x00]         # EOB
            bw_.write(code, ln)

    n_rst = 0
    mcu_done = 0

    def end_mcu(total: int) -> None:
        nonlocal n_rst, mcu_done
        mcu_done += 1
        if restart_interval and mcu_done % restart_interval == 0 and mcu_done < total:
            bw_.mark_restart(n_rst)
            n_rst += 1
            pred[0] = pred[1] = pred[2] = 0

    if subsample:
        mby, mbx = yb.shape[0], yb.shape[1]
        # pad Y blocks to even so each MCU has its full 2x2
        yb = np.pad(yb, ((0, mby % 2), (0, mbx % 2), (0, 0), (0, 0)), mode="edge")
        n_mcu = (yb.shape[0] // 2) * (yb.shape[1] // 2)
        for my in range(yb.shape[0] // 2):
            for mx in range(yb.shape[1] // 2):
                for dy in range(2):
                    for dx in range(2):
                        put_block(yb[2 * my + dy, 2 * mx + dx], 0, 0)
                put_block(cbb[my, mx], 1, 1)
                put_block(crb[my, mx], 2, 1)
                end_mcu(n_mcu)
    else:
        n_mcu = yb.shape[0] * yb.shape[1]
        for by in range(yb.shape[0]):
            for bx in range(yb.shape[1]):
                put_block(yb[by, bx], 0, 0)
                put_block(cbb[by, bx], 1, 1)
                put_block(crb[by, bx], 2, 1)
                end_mcu(n_mcu)

    scan = bw_.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")                               # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(int(x) for x in qt_l))
    out += seg(0xDB, bytes([1]) + bytes(int(x) for x in qt_c))
    hv_y = 0x22 if subsample else 0x11
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
               + bytes([1, hv_y, 0, 2, 0x11, 1, 3, 0x11, 1]))  # SOF0
    for cls, tid, (bits, vals) in (
        (0, 0, _DC_LUMA), (0, 1, _DC_CHROMA), (1, 0, _AC_LUMA), (1, 1, _AC_CHROMA)
    ):
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))      # DRI
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"                                         # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over unstuffed entropy-coded bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan data underrun")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode_table(bits, vals) -> dict[tuple[int, int], int]:
    """Canonical Huffman (T.81 C.2): (length, code) → value."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


def _read_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s low bits back to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(br, dc_tbl, ac_tbl) -> np.ndarray:
    """One 8x8 block of zigzag-order coefficients (DC is the DIFF —
    caller adds the predictor)."""
    coef = np.zeros(64, np.int64)
    s = _read_huff(br, dc_tbl)
    coef[0] = _extend(br.bits(s), s) if s else 0
    k = 1
    while k < 64:
        rs = _read_huff(br, ac_tbl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:            # ZRL: 16 zeros
                k += 16
                continue
            break                  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        coef[k] = _extend(br.bits(s), s)
        k += 1
    return coef


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG (SOF0/SOF1, 8-bit) to an
    HxWx3 uint8 RGB array (HxWx1 stays gray → caller broadcasts).

    Real T.81 decode, stdlib+numpy only: quantization and Huffman
    tables are read from the file's own DQT/DHT segments, so any
    baseline JPEG decodes — 4:4:4 / 4:2:2 / 4:2:0 sampling, restart
    markers, multiple tables per segment.  Progressive (SOF2) raises.
    The per-block Huffman walk is pure Python but the dequantize +
    IDCT runs as one batched einsum per component (two 8x8 matmuls
    per block, vectorized over all blocks).
    """
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart = 0
    scan = None
    while pos + 1 < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:          # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue                # standalone markers
        ln = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:          # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq:              # 16-bit precision
                    qts[tq] = np.frombuffer(
                        body[i:i + 128], dtype=">u2").astype(np.int64)
                    i += 128
                else:
                    qts[tq] = np.frombuffer(
                        body[i:i + 64], dtype=np.uint8).astype(np.int64)
                    i += 64
        elif marker == 0xC4:        # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                i += 1
                bits = list(body[i:i + 16])
                i += 16
                nv = sum(bits)
                vals = list(body[i:i + nv])
                i += nv
                (huff_dc if tc == 0 else huff_ac)[th] = _huff_decode_table(
                    bits, vals)
        elif marker in (0xC0, 0xC1):            # SOF0/1: baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential JPEG supported")
        elif marker == 0xDD:        # DRI
            restart = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:        # SOS: scan header + entropy data
            ns = body[0]
            stabs = {}
            for c in range(ns):
                stabs[body[1 + 2 * c]] = (body[2 + 2 * c] >> 4,
                                          body[2 + 2 * c] & 15)
            # unstuff entropy data, splitting at RST markers
            segments: list[bytes] = []
            cur = bytearray()
            i = pos
            while i < len(payload) - 1:
                b = payload[i]
                if b == 0xFF:
                    nxt = payload[i + 1]
                    if nxt == 0x00:          # stuffed 0xFF
                        cur.append(0xFF)
                        i += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # restart marker
                        segments.append(bytes(cur))
                        cur = bytearray()
                        i += 2
                        continue
                    break                    # next real marker (EOI)
                cur.append(b)
                i += 1
            segments.append(bytes(cur))
            scan = (stabs, segments)
            pos = i
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF or SOS")

    h, w, comps = frame
    stabs, segments = scan
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    zz = np.array(_ZIGZAG)
    blocks = {
        cid: np.zeros((mcuy * vs, mcux * hs, 8, 8), np.float64)
        for cid, hs, vs, _ in comps
    }

    seg_iter = iter(segments)
    br = _BitReader(next(seg_iter))
    preds = {c[0]: 0 for c in comps}
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            br = _BitReader(next(seg_iter))   # RST: re-align, reset DC
            preds = {c[0]: 0 for c in comps}
        my, mx = divmod(m, mcux)
        for cid, hs, vs, tq in comps:
            dct, act = stabs[cid]
            for dy in range(vs):
                for dx in range(hs):
                    coef = _decode_block(br, huff_dc[dct], huff_ac[act])
                    preds[cid] += int(coef[0])
                    coef[0] = preds[cid]
                    nat = np.zeros(64, np.float64)
                    nat[zz] = coef * qts[tq]  # de-zigzag + dequantize
                    blocks[cid][my * vs + dy, mx * hs + dx] = nat.reshape(8, 8)

    D = _dct_matrix()
    planes = {}
    for cid, hs, vs, _ in comps:
        b = blocks[cid]
        pix = np.einsum("ji,abjk,kl->abil", D, b, D) + 128.0  # D.T @ c @ D
        by, bx = b.shape[0], b.shape[1]
        plane = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        # upsample to full resolution (sample-and-hold), crop to h x w
        plane = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                          hmax // hs, axis=1)
        planes[cid] = plane[:h, :w]

    order = [c[0] for c in comps]
    if len(order) == 1:
        y = np.clip(planes[order[0]], 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = planes[order[0]], planes[order[1]] - 128, planes[order[2]] - 128
    rgb = np.stack(
        [y + 1.402 * cr,
         y - 0.344136 * cb - 0.714136 * cr,
         y + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -------------------------------------------------- audio fingerprint

#: frames x (bands-1) deltas = 16 x 4 = 64 fingerprint bits
_AFP_FRAMES = 17
_AFP_BANDS = 5


def afp64_py(samples: np.ndarray) -> int:
    """64-bit perceptual audio fingerprint — the Haitsma-Kalker (2002)
    energy-delta-sign design chromaprint descends from, sized to the
    repo's 64-bit Hamming-join convention:

    - mono-mix, split into 17 equal frames (time-normalized: the same
      clip at any amplitude, or zero-padded to a different length by
      ≤ one frame, keeps its bits),
    - per frame, DCT magnitude spectrum summed into 5 log-ish bands,
    - bit(n, m) = sign of the time-delta of the band-delta
      ``(E(n,m) − E(n,m+1)) − (E(n−1,m) − E(n−1,m+1))`` — 16 frame
      transitions × 4 band transitions = 64 bits.

    Sign-of-difference is amplitude-invariant (uniform gain scales
    every energy, never flips a delta) and robust to mild additive
    noise; totally different program material flips ~half the bits.
    Deterministic numpy, no codec dependency — the fingerprint runs on
    anything :func:`decode_wav` yields.
    """
    if samples.ndim == 2:
        mono = samples.astype(np.float64).mean(axis=1)
    else:
        mono = samples.astype(np.float64)
    n = (len(mono) // _AFP_FRAMES) * _AFP_FRAMES
    if n == 0:
        return 0
    frames = mono[:n].reshape(_AFP_FRAMES, -1)
    flen = frames.shape[1]
    basis = _dct_basis(flen) if flen <= 64 else None
    energies = np.empty((_AFP_FRAMES, _AFP_BANDS))
    for i, fr in enumerate(frames):
        if basis is not None:
            spec = np.abs(basis @ fr)
        else:
            # rfft magnitude is the DCT stand-in for long frames
            spec = np.abs(np.fft.rfft(fr))
        cuts = np.linspace(0, len(spec), _AFP_BANDS + 1).astype(int)
        energies[i] = [
            float((spec[a:b] ** 2).sum()) for a, b in zip(cuts[:-1], cuts[1:])
        ]
    band_delta = energies[:, :-1] - energies[:, 1:]          # (17, 4)
    time_delta = band_delta[1:] - band_delta[:-1]            # (16, 4)
    bits = (time_delta > 0).astype(np.uint64).ravel()
    fp = np.uint64(0)
    for b in bits:
        fp = (fp << np.uint64(1)) | b
    # map to signed 64-bit (Spark LongType), same convention as pHash
    return int(np.int64(fp))


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("afp", T.LongType()),
    ]
)


def audio_fingerprints(
    media_df: DataFrame, id_col: str, media_col: str = "media"
) -> DataFrame:
    """(id, afp) for every decodable WAV payload — one Arrow pass, the
    audio twin of ``image_hashes``; undecodable payloads are skipped
    (they belong to the metadata stand-in path, not the dedup join)."""

    def run(iterator):
        for batch in iterator:
            ids, fps = [], []
            for cid, payload in zip(batch[id_col], batch[media_col]):
                try:
                    samples, _rate = decode_wav(bytes(payload))
                except (ValueError, IndexError, KeyError):
                    continue
                ids.append(str(cid))
                fps.append(afp64_py(samples))
            yield pd.DataFrame({"clip_id": ids, "afp": fps})

    return media_df.select(
        F.col(id_col).cast("string").alias(id_col), F.col(media_col)
    ).mapInPandas(run, AUDIO_FP_SCHEMA)


def audio_near_dups(
    media_df: DataFrame,
    id_col: str,
    media_col: str = "media",
    max_hamming: int = 6,
) -> DataFrame:
    """Perceptual audio near-dup pairs: fingerprint pass → the SAME
    pigeonhole-banded Hamming self-join the SimHash/image paths use
    (``dataset.hamming_band_pairs``) — at 10^12 clips the decode pass
    is the only audio touch; the join shuffles 8-byte fingerprints."""
    from .operators.dataset import hamming_band_pairs

    hashed = audio_fingerprints(media_df, id_col, media_col)
    return hamming_band_pairs(hashed, "clip_id", "afp", max_hamming)


# ------------------------------------------------------------------ EXIF
# Stdlib-only EXIF/TIFF tag reader.  Reference parity point: the
# reference extracts image metadata with Pillow + exifread
# (backend/src/services/loaders/image_loader.py, wired at
# extraction_service.py:180-185) and emits a dict of printable tag
# strings keyed "Image <Tag>" / "EXIF <Tag>".  This parser walks the
# JPEG APP1 "Exif\0\0" payload's TIFF structure directly (byte-order
# header, IFD0, Exif sub-IFD via tag 0x8769) and prints values with
# the same key naming; enum-valued tags (Orientation, ResolutionUnit)
# print their RAW integer rather than exifread's English gloss — the
# deterministic choice, documented divergence.  PNG textual metadata
# (tEXt chunks) is parsed by the same entry point under "PNG <keyword>"
# keys.

_EXIF_IFD0_TAGS = {
    0x010E: "ImageDescription",
    0x010F: "Make",
    0x0110: "Model",
    0x0112: "Orientation",
    0x011A: "XResolution",
    0x011B: "YResolution",
    0x0128: "ResolutionUnit",
    0x0131: "Software",
    0x0132: "DateTime",
    0x013B: "Artist",
    0x8298: "Copyright",
}
_EXIF_SUBIFD_TAGS = {
    0x829A: "ExposureTime",
    0x829D: "FNumber",
    0x8827: "ISOSpeedRatings",
    0x9003: "DateTimeOriginal",
    0x9004: "DateTimeDigitized",
    0x920A: "FocalLength",
    0xA002: "ExifImageWidth",
    0xA003: "ExifImageLength",
}
_EXIF_SUBIFD_POINTER = 0x8769
# TIFF field type -> byte width (types we decode; others are skipped)
_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _tiff_value(data: bytes, endian: str, ftype: int, count: int,
                value_field: bytes) -> str | None:
    """Decode one IFD entry's value to its printable string.  Values
    wider than 4 bytes live at an offset into the TIFF blob (value_field
    holds the offset); narrower ones are inline, left-justified."""
    import struct

    size = _TIFF_TYPE_SIZE.get(ftype)
    if size is None:
        return None
    total = size * count
    if total > 4:
        (off,) = struct.unpack(endian + "I", value_field)
        raw = data[off : off + total]
        if len(raw) < total:
            return None
    else:
        raw = value_field[:total]
    if ftype == 2:  # ASCII, NUL-terminated
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if ftype in (1, 7):  # BYTE / UNDEFINED
        vals = list(raw)
    elif ftype == 3:
        vals = list(struct.unpack(endian + "H" * count, raw))
    elif ftype == 4:
        vals = list(struct.unpack(endian + "I" * count, raw))
    elif ftype == 9:
        vals = list(struct.unpack(endian + "i" * count, raw))
    else:  # 5 / 10: (S)RATIONAL pairs, exifread-style "num/den" print
        kind = "I" if ftype == 5 else "i"
        flat = struct.unpack(endian + kind * (2 * count), raw)
        vals = [
            str(flat[2 * i]) if flat[2 * i + 1] == 1
            else f"{flat[2 * i]}/{flat[2 * i + 1]}"
            for i in range(count)
        ]
        return vals[0] if count == 1 else "[" + ", ".join(vals) + "]"
    if count == 1:
        return str(vals[0])
    return "[" + ", ".join(str(v) for v in vals) + "]"


def _walk_ifd(data: bytes, endian: str, offset: int, tag_names: dict,
              prefix: str, out: dict) -> int:
    """Walk one IFD, adding named tags to ``out``; returns the Exif
    sub-IFD offset if tag 0x8769 is present, else 0."""
    import struct

    if offset + 2 > len(data):
        return 0
    (n_entries,) = struct.unpack_from(endian + "H", data, offset)
    sub_ifd = 0
    for i in range(n_entries):
        base = offset + 2 + 12 * i
        if base + 12 > len(data):
            break
        tag, ftype, count = struct.unpack_from(endian + "HHI", data, base)
        value_field = data[base + 8 : base + 12]
        if tag == _EXIF_SUBIFD_POINTER and ftype == 4:
            (sub_ifd,) = struct.unpack(endian + "I", value_field)
            continue
        name = tag_names.get(tag)
        if name is None:
            continue
        val = _tiff_value(data, endian, ftype, count, value_field)
        if val is not None:
            out[f"{prefix} {name}"] = val
    return sub_ifd


def parse_tiff_exif(data: bytes) -> dict:
    """Parse a TIFF blob (the APP1 payload after "Exif\\0\\0", or a
    bare .tif file) into {key: printable-string} with exifread-style
    "Image X" / "EXIF X" keys."""
    import struct

    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        return {}
    endian = "<" if data[:2] == b"II" else ">"
    magic, ifd0 = struct.unpack_from(endian + "HI", data, 2)
    if magic != 42:
        return {}
    out: dict = {}
    sub = _walk_ifd(data, endian, ifd0, _EXIF_IFD0_TAGS, "Image", out)
    if sub:
        _walk_ifd(data, endian, sub, _EXIF_SUBIFD_TAGS, "EXIF", out)
    return out


def parse_exif(payload: bytes) -> dict:
    """EXIF/textual metadata from a media payload: JPEG APP1 TIFF walk,
    bare TIFF, or PNG tEXt chunks.  Returns {} when none present —
    mirroring the reference's "metadata['exif'] only if non-empty"."""
    import struct

    try:
        if payload[:3] == b"\xff\xd8\xff":
            pos = 2
            while pos + 4 <= len(payload):
                if payload[pos] != 0xFF:
                    pos += 1
                    continue
                marker = payload[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                if pos + 4 > len(payload):
                    break
                (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
                if marker == 0xE1 and payload[
                    pos + 4 : pos + 10
                ] == b"Exif\x00\x00":
                    return parse_tiff_exif(
                        payload[pos + 10 : pos + 2 + seg_len]
                    )
                if marker == 0xDA:  # start of scan: no APP1 follows
                    break
                pos += 2 + seg_len
            return {}
        if payload[:2] in (b"II", b"MM"):
            return parse_tiff_exif(payload)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            out: dict = {}
            pos = 8
            while pos + 8 <= len(payload):
                (length,) = struct.unpack_from(">I", payload, pos)
                ctype = payload[pos + 4 : pos + 8]
                if ctype == b"tEXt":
                    body = payload[pos + 8 : pos + 8 + length]
                    if b"\x00" in body:
                        kw, txt = body.split(b"\x00", 1)
                        out[f"PNG {kw.decode('latin-1')}"] = txt.decode(
                            "latin-1"
                        )
                elif ctype == b"IEND":
                    break
                pos += 12 + length
            return out
    except (struct.error, IndexError, UnicodeDecodeError, ValueError):
        return {}
    return {}


def build_exif_app1(
    ifd0: dict | None = None,
    exif_ifd: dict | None = None,
    endian: str = "<",
) -> bytes:
    """Fixture twin of :func:`parse_exif`'s JPEG path: build a real
    APP1 segment (marker + "Exif\\0\\0" + TIFF blob with IFD0 and an
    optional Exif sub-IFD).  ``ifd0`` / ``exif_ifd`` map tag id ->
    python value (str, int, or (num, den) rational)."""
    import struct

    ifd0 = dict(ifd0 or {})
    exif_ifd = dict(exif_ifd or {})

    def _entries(tags: dict, data_off: int):
        """Returns (entry_structs, heap) with heap offsets starting at
        data_off.  entry_structs = [(tag, type, count, 4-byte field)]."""
        heap = bytearray()
        entries = []
        for tag in sorted(tags):
            v = tags[tag]
            if isinstance(v, str):
                raw = v.encode("ascii") + b"\x00"
                ftype, count = 2, len(raw)
            elif isinstance(v, tuple):
                raw = struct.pack(endian + "II", *v)
                ftype, count = 5, 1
            else:
                raw = struct.pack(endian + "H", int(v))
                ftype, count = 3, 1
            if len(raw) <= 4:
                field = raw + b"\x00" * (4 - len(raw))
            else:
                field = struct.pack(endian + "I", data_off + len(heap))
                heap += raw
            entries.append((tag, ftype, count, field))
        return entries, bytes(heap)

    # layout: header(8) | IFD0 | [Exif IFD] | heap — two passes so the
    # heap offsets are known before packing
    n0 = len(ifd0) + (1 if exif_ifd else 0)
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = ifd0_off + ifd0_size if exif_ifd else 0
    exif_size = (2 + 12 * len(exif_ifd) + 4) if exif_ifd else 0
    heap_off = ifd0_off + ifd0_size + exif_size
    e0, heap0 = _entries(ifd0, heap_off)
    e1, heap1 = _entries(exif_ifd, heap_off + len(heap0))
    if exif_ifd:
        e0.append(
            (
                _EXIF_SUBIFD_POINTER,
                4,
                1,
                struct.pack(endian + "I", exif_off),
            )
        )
        e0.sort()
    tiff = bytearray()
    tiff += (b"II" if endian == "<" else b"MM")
    tiff += struct.pack(endian + "HI", 42, ifd0_off)
    for entries in ([e0, e1] if exif_ifd else [e0]):
        tiff += struct.pack(endian + "H", len(entries))
        for tag, ftype, count, field in entries:
            tiff += struct.pack(endian + "HHI", tag, ftype, count) + field
        tiff += struct.pack(endian + "I", 0)  # next-IFD pointer
    tiff += heap0 + heap1
    body = b"Exif\x00\x00" + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def add_exif_to_jpeg(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI — fixture helper."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    return jpeg[:2] + app1 + jpeg[2:]


def add_png_text(png: bytes, keyword: str, text: str) -> bytes:
    """Insert a tEXt chunk after IHDR (real CRC) — fixture twin of
    :func:`parse_exif`'s PNG path."""
    import struct
    import zlib

    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    body = keyword.encode("latin-1") + b"\x00" + text.encode("latin-1")
    chunk = (
        struct.pack(">I", len(body))
        + b"tEXt"
        + body
        + struct.pack(">I", zlib.crc32(b"tEXt" + body) & 0xFFFFFFFF)
    )
    ihdr_end = 8 + 12 + 13  # sig + IHDR(len+type+13+crc)
    return png[:ihdr_end] + chunk + png[ihdr_end:]


# ------------------------------------------------------------------- MP3
# Real MPEG audio frame-header parse (dims-honest metadata for the web's
# dominant audio format; SAMPLE decode stays out of scope — the
# deterministic stand-in covers pixels/samples only, never metadata).

_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                      224, 256, 320, 0]
_MP3_BITRATES_V2L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                      144, 160, 0]
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
              0: [11025, 12000, 8000]}


def parse_mp3_header(payload: bytes) -> dict | None:
    """Parse the first MPEG layer-III frame header (after any ID3v2
    tag): returns {"sample_rate", "bitrate_kbps", "mpeg_version",
    "channels", "duration_sec"} or None when no valid frame sync is
    found.  ``duration_sec`` is the CBR estimate
    ``audio_bytes * 8 / bitrate`` — exact for CBR files, the standard
    header-only approximation for VBR (a full decode is out of scope;
    flagged by the honest estimate, not faked)."""
    import struct

    start = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        # ID3v2 size: 4 syncsafe bytes (7 bits each)
        sz = 0
        for b in payload[6:10]:
            sz = (sz << 7) | (b & 0x7F)
        start = 10 + sz
    pos = start
    while pos + 4 <= len(payload):
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 == 0xFF and (b1 & 0xE0) == 0xE0:
            version = (b1 >> 3) & 0x3   # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
            layer = (b1 >> 1) & 0x3     # 1=Layer III
            if version != 1 and layer == 1:
                br_idx = (b2 >> 4) & 0xF
                sr_idx = (b2 >> 2) & 0x3
                table = (
                    _MP3_BITRATES_V1L3 if version == 3
                    else _MP3_BITRATES_V2L3
                )
                if sr_idx != 3 and table[br_idx]:
                    rate = _MP3_RATES[version][sr_idx]
                    kbps = table[br_idx]
                    # audio starts at the MATCHED frame header, not at
                    # the end of the ID3 tag: junk scanned past between
                    # `start` and `pos` is not audio and would inflate
                    # the CBR duration estimate
                    audio_bytes = len(payload) - pos
                    return {
                        "sample_rate": rate,
                        "bitrate_kbps": kbps,
                        "mpeg_version": {3: 1, 2: 2, 0: 25}[version],
                        "channels": 1 if ((b3 >> 6) & 0x3) == 3 else 2,
                        "duration_sec": audio_bytes * 8.0 / (kbps * 1000.0),
                    }
        pos += 1
    return None


def encode_mp3_stub(
    sample_rate: int = 44100,
    bitrate_kbps: int = 128,
    n_frames: int = 10,
    id3_pad: int = 0,
) -> bytes:
    """Fixture twin of :func:`parse_mp3_header`: valid MPEG1 layer-III
    CBR frame headers with zeroed payloads (header-parse fixtures only
    — not decodable audio), optionally behind an ID3v2 tag."""
    import struct

    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_idx = _MP3_BITRATES_V1L3.index(bitrate_kbps)
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    hdr = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC0]
    )
    frame = hdr + b"\x00" * (frame_len - 4)
    out = b""
    if id3_pad:
        body = b"\x00" * id3_pad
        out = (
            b"ID3\x04\x00\x00"
            + bytes(
                [(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
                 (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]
            )
            + body
        )
    return out + frame * n_frames
