"""Tests: multimodal plumbing — media metadata, the image/audio decoders
and feature stages, perceptual near-dups, EXIF and MP3 headers."""

import numpy as np

import pytest
from pyspark.sql import functions as F


class TestMultimodal:
    @pytest.fixture()
    def media_df(self, spark):
        rows = [
            (1, b"\xff\xd8\xff\xe0" + b"j" * 500),          # jpeg
            (2, b"\x89PNG\r\n\x1a\n" + b"p" * 300),         # png
            (3, b"RIFF" + b"\x00" * 4 + b"WAVE" + b"w" * 200),  # wav
            (4, b"\x00\x00\x00\x18ftypisom" + b"v" * 2048),  # mp4
            (5, b"garbage-bytes"),
        ]
        return spark.createDataFrame(rows, "media_id int, media binary")

    def test_media_metadata(self, spark, media_df):
        from clawrag_spark.multimodal import media_metadata

        out = {
            r["media_id"]: r
            for r in media_df.select(
                "media_id", media_metadata(F.col("media")).alias("m")
            ).select("media_id", "m.*").collect()
        }
        assert out[1]["media_type"] == "image" and out[1]["format"] == "jpeg"
        assert out[2]["format"] == "png"
        assert out[3]["media_type"] == "audio" and out[3]["format"] == "wav"
        assert out[4]["media_type"] == "video"
        assert out[5]["media_type"] == "unknown"
        assert out[1]["n_bytes"] == 504
        assert len(out[1]["content_hash"]) == 64

    def test_image_features_deterministic_shape(self, spark, media_df):
        from clawrag_spark.multimodal import FEATURE_DIM, extract_image_features

        feats = extract_image_features(media_df.filter("media_id <= 2")).collect()
        assert len(feats) == 2
        for row in feats:
            assert len(row["feature"]) == FEATURE_DIM
            assert abs(sum(row["feature"]) - 1.0) < 1e-6
        # deterministic: same payload → same feature
        again = extract_image_features(media_df.filter("media_id <= 2")).collect()
        assert sorted(map(tuple, (r["feature"] for r in feats))) == sorted(
            map(tuple, (r["feature"] for r in again))
        )

    def test_frame_sample_plan(self, spark, media_df):
        from clawrag_spark.multimodal import frame_sample_plan

        plan = frame_sample_plan(media_df.filter("media_id = 4"), "media", every_n=1)
        rows = plan.collect()
        assert len(rows) == 3  # 2048 bytes → 3 fake frames at stride 1
        assert [r["frame_index"] for r in sorted(rows, key=lambda r: r["frame_index"])] == [0, 1, 2]


class TestRealDecoders:
    """BMP/PPM pixel decode is REAL in this container (codec-free);
    png/gif/jpeg get real header dimensions."""

    def test_bmp_ppm_round_trip(self):
        import numpy as np

        from clawrag_spark.multimodal import (
            decode_bmp, decode_ppm, encode_bmp, encode_ppm,
        )

        rng = np.random.default_rng(7)
        for h, w in [(1, 1), (5, 3), (33, 17)]:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert np.array_equal(decode_bmp(encode_bmp(img)), img)
            assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        # PPM header grammar: comments + mixed whitespace
        c = b"P6 # c\n# c2\n 3\t2 #wh\n255\n" + bytes(range(18))
        assert decode_ppm(c).shape == (2, 3, 3)

    def test_bmp_rejects_unsupported(self):
        import pytest as _pytest

        from clawrag_spark.multimodal import decode_bmp, encode_bmp
        import numpy as np

        img = np.zeros((4, 4, 3), np.uint8)
        rle = bytearray(encode_bmp(img))
        rle[30] = 1  # compression = BI_RLE8
        with _pytest.raises(ValueError, match="unsupported BMP"):
            decode_bmp(bytes(rle))
        with _pytest.raises(ValueError, match="not a BMP"):
            decode_bmp(b"nope")

    def test_real_header_dims(self):
        import struct

        from clawrag_spark.multimodal import _header_dims

        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">IIBBBBB", 320, 200, 8, 2, 0, 0, 0))
        assert _header_dims(png, "png") == (200, 320)
        gif = b"GIF89a" + struct.pack("<HH", 101, 55)
        assert _header_dims(gif, "gif") == (55, 101)
        jpg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
               + b"\x00" * 9 + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
               + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 10)
        assert _header_dims(jpg, "jpeg") == (480, 640)
        assert _header_dims(b"\xff\xd8\xffgarbage", "jpeg") is None

    def test_spark_stage_decodes_real_pixels(self, spark):
        """extract_image_features over BMP payloads must equal the
        histogram computed locally from the true pixels — the decode
        stage is no longer a stand-in for this format."""
        import hashlib

        import numpy as np

        from clawrag_spark.multimodal import (
            FEATURE_DIM, encode_bmp, extract_image_features, media_metadata,
        )

        rng = np.random.default_rng(11)
        imgs = {i: rng.integers(0, 256, size=(40 + i, 30 + i, 3), dtype=np.uint8)
                for i in range(4)}
        rows = [(i, encode_bmp(img)) for i, img in imgs.items()]
        df = spark.createDataFrame(rows, "media_id int, media binary")

        meta = {
            r["media_id"]: r
            for r in df.select("media_id", media_metadata(F.col("media")).alias("m"))
            .select("media_id", "m.*").collect()
        }
        for i, img in imgs.items():
            assert meta[i]["format"] == "bmp"
            assert (meta[i]["height"], meta[i]["width"]) == img.shape[:2]

        def local_feature(img, resize_to=32):
            ys = np.linspace(0, img.shape[0] - 1, resize_to).astype(int)
            xs = np.linspace(0, img.shape[1] - 1, resize_to).astype(int)
            small = img[np.ix_(ys, xs)]
            q = (small // 86).reshape(-1, 3)
            idx = q[:, 0] * 9 + q[:, 1] * 3 + q[:, 2]
            hist = np.bincount(idx, minlength=FEATURE_DIM).astype(np.float64)
            return [float(x) for x in hist / max(hist.sum(), 1.0)]

        got = {r["content_hash"]: r["feature"]
               for r in extract_image_features(df).collect()}
        for i, img in imgs.items():
            key = hashlib.sha256(encode_bmp(img)).hexdigest()
            assert got[key] == local_feature(img), f"img {i} pixel mismatch"


class TestPngDecoder:
    """PNG pixel decode is REAL (stdlib zlib + the five filter
    predictors) — reference parity point: extraction_service.py:180-185
    treats images as metadata-only; we decode the most common web image
    format end-to-end."""

    def test_round_trip_every_filter(self):
        import numpy as np

        from clawrag_spark.multimodal import decode_png, encode_png

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
        for ft in range(5):
            assert np.array_equal(decode_png(encode_png(img, filter_type=ft)), img), (
                f"filter {ft} round-trip failed"
            )

    def test_round_trip_gray_and_rgba(self):
        import numpy as np

        from clawrag_spark.multimodal import decode_png, encode_png

        rng = np.random.default_rng(12)
        gray = rng.integers(0, 256, size=(6, 9), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(gray))[:, :, 0], gray)
        rgba = rng.integers(0, 256, size=(4, 5, 4), dtype=np.uint8)
        for ft in (2, 4):
            assert np.array_equal(decode_png(encode_png(rgba, filter_type=ft)), rgba)

    def test_multiple_idat_chunks(self):
        import struct
        import zlib

        import numpy as np

        from clawrag_spark.multimodal import _png_chunk, decode_png, encode_png

        img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
        # rebuild the file with the IDAT stream split in two chunks
        raw = bytearray()
        for y in range(4):
            raw.append(0)
            raw += img[y].tobytes()
        z = zlib.compress(bytes(raw))
        ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", z[: len(z) // 2])
            + _png_chunk(b"IDAT", z[len(z) // 2 :])
            + _png_chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(payload), img)

    def test_rejects_unsupported(self):
        import struct

        import numpy as np
        import pytest as _pytest

        from clawrag_spark.multimodal import _png_chunk, decode_png, encode_png

        with _pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"nope")
        # 16-bit depth
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
        bad = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        with _pytest.raises(ValueError, match="unsupported PNG"):
            decode_png(bad)
        # truncated scanlines
        good = bytearray(encode_png(np.zeros((3, 3, 3), np.uint8)))
        with _pytest.raises(ValueError):
            decode_png(bytes(good[:40]))

    def test_media_metadata_real_png_dims_and_features(self, spark):
        import numpy as np

        from clawrag_spark.multimodal import (
            FEATURE_DIM, encode_png, extract_image_features, media_metadata,
        )

        img = np.zeros((20, 30, 3), np.uint8)
        img[:, :, 0] = 255  # pure red
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(img, filter_type=4)))],
            "media_id int, media binary",
        )
        meta = df.select(media_metadata(F.col("media")).alias("m")).select("m.*").first()
        assert (meta["width"], meta["height"]) == (30, 20)
        assert meta["format"] == "png"
        feat = extract_image_features(df).first()["feature"]
        assert len(feat) == FEATURE_DIM
        # every pixel decodes to the (2,0,0) histogram bucket = index 18
        assert abs(feat[18] - 1.0) < 1e-6


class TestGifDecoder:
    """GIF pixel decode is REAL: variable-width LZW, dictionary resets,
    sub-block reassembly."""

    def test_round_trip(self):
        import numpy as np

        from clawrag_spark.multimodal import decode_gif, encode_gif

        rng = np.random.default_rng(21)
        # few colors (deep LZW sequences) and many colors (wide codes)
        few = rng.integers(0, 2, size=(40, 30, 3), dtype=np.uint8) * 255
        many = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        flat = np.tile(np.array([[10, 20, 30]], np.uint8), (64, 1)).reshape(8, 8, 3)
        for img in (few, many, flat):
            assert np.array_equal(decode_gif(encode_gif(img)), img)

    def test_large_image_forces_width_growth(self):
        import numpy as np

        from clawrag_spark.multimodal import decode_gif, encode_gif

        rng = np.random.default_rng(22)
        img = rng.integers(0, 8, size=(80, 80), dtype=np.uint8)
        rgb = np.stack([img * 31, img * 17, img * 7], axis=2).astype(np.uint8)
        assert np.array_equal(decode_gif(encode_gif(rgb)), rgb)

    def test_rejects_bad_payloads(self):
        import numpy as np
        import pytest as _pytest

        from clawrag_spark.multimodal import decode_gif, encode_gif

        with _pytest.raises(ValueError, match="not a GIF"):
            decode_gif(b"nope")
        good = encode_gif(np.zeros((4, 4, 3), np.uint8))
        with _pytest.raises(ValueError):
            decode_gif(good[:20])

    def test_feature_stage_decodes_real_gif(self, spark):
        import numpy as np

        from clawrag_spark.multimodal import (
            FEATURE_DIM, encode_gif, extract_image_features,
        )

        img = np.zeros((10, 12, 3), np.uint8)
        img[:, :, 2] = 255  # pure blue -> histogram bucket (0,0,2)=2
        df = spark.createDataFrame(
            [(1, bytearray(encode_gif(img)))], "media_id int, media binary"
        )
        feat = extract_image_features(df).first()["feature"]
        assert len(feat) == FEATURE_DIM and abs(feat[2] - 1.0) < 1e-6


class TestWavDecoder:
    """PCM16 WAV decode is REAL: RIFF chunk walk, word alignment,
    multichannel reshape."""

    def test_round_trip_mono_and_stereo(self):
        import numpy as np

        from clawrag_spark.multimodal import decode_wav, encode_wav

        rng = np.random.default_rng(31)
        mono = rng.integers(-32768, 32767, size=1600, dtype=np.int16)
        got, rate = decode_wav(encode_wav(mono, 16000))
        assert rate == 16000 and np.array_equal(got[:, 0], mono)
        stereo = rng.integers(-32768, 32767, size=(800, 2), dtype=np.int16)
        got2, rate2 = decode_wav(encode_wav(stereo, 44100))
        assert rate2 == 44100 and np.array_equal(got2, stereo)

    def test_rejects_unsupported(self):
        import pytest as _pytest

        from clawrag_spark.multimodal import decode_wav

        with _pytest.raises(ValueError, match="not a RIFF"):
            decode_wav(b"nope")
        with _pytest.raises(ValueError, match="missing fmt"):
            decode_wav(b"RIFF\x04\x00\x00\x00WAVE")

    def test_audio_feature_stage(self, spark):
        import numpy as np

        from clawrag_spark.multimodal import encode_wav, extract_audio_features

        # full-scale square wave: rms == peak == 32767/32768
        sq = np.full(16000, 32767, dtype=np.int16)
        sq[::2] = -32767
        rows = [
            (1, bytearray(encode_wav(sq, 16000))),
            (2, bytearray(b"ID3 not a real mp3")),
        ]
        df = spark.createDataFrame(rows, "media_id int, media binary")
        got = {r["content_hash"]: r for r in extract_audio_features(df).collect()}
        wav_row = [r for r in got.values() if r["sample_rate"] is not None][0]
        assert wav_row["duration_sec"] == 1.0
        assert abs(wav_row["rms"] - 32767 / 32768) < 1e-9
        assert abs(wav_row["peak"] - 32767 / 32768) < 1e-9
        mp3_row = [r for r in got.values() if r["sample_rate"] is None][0]
        assert mp3_row["duration_sec"] is None  # honest: no mp3 codec


class TestJpegCodec:
    """Real baseline JPEG codec: tables from the file's own DQT/DHT."""

    @staticmethod
    def _gradient(h, w):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack([
            yy * 255 // max(h - 1, 1),
            xx * 255 // max(w - 1, 1),
            (yy + xx) * 255 // max(h + w - 2, 1),
        ], axis=2).astype(np.uint8)

    def test_roundtrip_444(self):
        from clawrag_spark.multimodal import decode_jpeg, encode_jpeg

        img = self._gradient(45, 61)  # odd dims force edge-padded blocks
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert out.shape == (45, 61, 3)
        err = np.abs(out.astype(float) - img.astype(float))
        assert err.mean() < 1.0 and err.max() <= 4

    def test_roundtrip_420_with_restarts(self):
        from clawrag_spark.multimodal import decode_jpeg, encode_jpeg

        img = self._gradient(33, 29)
        data = encode_jpeg(img, quality=85, subsample=True, restart_interval=2)
        assert any(  # RST markers actually present in the stream
            data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
            for i in range(2, len(data) - 2)
        )
        out = decode_jpeg(data)
        assert out.shape == (33, 29, 3)
        err = np.abs(out.astype(float) - img.astype(float))
        assert err.mean() < 4.0  # 4:2:0 chroma loss on a smooth gradient

    def test_quality_monotonic(self):
        from clawrag_spark.multimodal import decode_jpeg, encode_jpeg

        img = self._gradient(24, 40)
        errs, sizes = [], []
        for q in (30, 70, 95):
            data = encode_jpeg(img, quality=q)
            sizes.append(len(data))
            out = decode_jpeg(data)
            errs.append(np.abs(out.astype(float) - img.astype(float)).mean())
        assert errs[0] > errs[2]    # lower quality → more error
        assert sizes[0] < sizes[2]  # ...and fewer bytes

    def test_progressive_rejected(self):
        from clawrag_spark.multimodal import decode_jpeg, encode_jpeg

        data = bytearray(encode_jpeg(self._gradient(16, 16)))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xC2  # flip SOF0 → SOF2 (progressive)
        with pytest.raises(ValueError, match="baseline"):
            decode_jpeg(bytes(data))

    def test_decode_dispatch_and_metadata(self, spark):
        from clawrag_spark.multimodal import (
            _decode_image, decode_jpeg, encode_jpeg, media_metadata,
        )

        img = self._gradient(21, 18)
        data = encode_jpeg(img, quality=90)
        # _decode_image routes jpeg to the real decoder, not the fake
        assert np.array_equal(_decode_image(data), decode_jpeg(data))
        row = (
            spark.createDataFrame([(data,)], "payload binary")
            .select(media_metadata("payload").alias("m"))
            .select("m.*")
            .collect()[0]
        )
        assert (row["format"], row["media_type"]) == ("jpeg", "image")
        assert (row["height"], row["width"]) == (21, 18)


class TestImageNearDup:
    """aHash perceptual dedup: integer-exact invariances + banded-join
    completeness vs brute-force Hamming."""

    @staticmethod
    def _imgs():
        from clawrag_spark import multimodal as MM

        rows = []
        for img_id in range(36):
            b, v = img_id % 12, img_id // 12
            rng = np.random.default_rng(100 + b)
            img = rng.integers(30, 200, size=(24, 24, 3)).astype(np.uint8)
            if v == 1:
                img = (img.astype(np.int16) + 25).astype(np.uint8)
            elif v == 2:
                img = np.random.default_rng(900 + img_id).integers(
                    0, 256, size=(24, 24, 3)
                ).astype(np.uint8)
            rows.append((img_id, img, MM.encode_bmp(img)))
        return rows

    def test_ahash_brightness_invariant(self):
        from clawrag_spark.multimodal import ahash64_py

        rng = np.random.default_rng(7)
        img = rng.integers(30, 200, size=(40, 40, 3)).astype(np.uint8)
        shifted = (img.astype(np.int16) + 40).astype(np.uint8)
        assert ahash64_py(img) == ahash64_py(shifted)
        # and NOT invariant to unrelated content
        other = np.random.default_rng(8).integers(0, 256, size=(40, 40, 3)).astype(np.uint8)
        assert ahash64_py(img) != ahash64_py(other)

    def test_banded_pairs_match_brute_force(self, spark):
        from clawrag_spark import multimodal as MM
        from clawrag_spark.multimodal import ahash64_py

        rows = self._imgs()
        media = spark.createDataFrame(
            [(i, bytearray(p)) for i, _, p in rows], "img_id long, media binary"
        )
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in MM.image_near_dups(media, "img_id", max_hamming=6).collect()
        }
        hashes = {i: ahash64_py(img) for i, img, _ in rows}

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        want = {
            (a, b): ham(hashes[a], hashes[b])
            for a in hashes
            for b in hashes
            if a < b and ham(hashes[a], hashes[b]) <= 6
        }
        assert len(want) >= 12, "fixture failed to plant near-dup images"
        assert got == want

    def test_phash_survives_resize_and_noise(self):
        """pHash's low-frequency DCT block must be stable under the
        transforms web re-hosting applies (resize, mild noise) and far
        apart for unrelated content."""
        from clawrag_spark.multimodal import phash64_py

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        rng = np.random.default_rng(42)
        # smooth structured image (gradient + blob), not pure noise —
        # pHash is a low-frequency signature
        yy, xx = np.mgrid[0:64, 0:64]
        base = (yy * 2 + xx + 30 * np.exp(-((yy - 20) ** 2 + (xx - 40) ** 2) / 200.0))
        img = np.clip(base, 0, 255).astype(np.uint8)[..., None].repeat(3, axis=2)
        h = phash64_py(img)
        # identical → 0
        assert ham(h, phash64_py(img.copy())) == 0
        # 2x nearest-neighbour upsample (re-hosted resize) → near
        up = img.repeat(2, axis=0).repeat(2, axis=1)
        assert ham(h, phash64_py(up)) <= 4
        # mild additive noise → near
        noisy = np.clip(
            img.astype(np.int16) + rng.integers(-6, 7, size=img.shape), 0, 255
        ).astype(np.uint8)
        assert ham(h, phash64_py(noisy)) <= 8
        # unrelated structured content → far
        other = np.clip(255 - base.T, 0, 255).astype(np.uint8)[..., None].repeat(3, axis=2)
        assert ham(h, phash64_py(other)) >= 16

    def test_phash_banded_pairs_match_brute_force(self, spark):
        from clawrag_spark import multimodal as MM
        from clawrag_spark.multimodal import phash64_py

        rows = self._imgs()
        media = spark.createDataFrame(
            [(i, bytearray(p)) for i, _, p in rows], "img_id long, media binary"
        )
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in MM.image_near_dups(
                media, "img_id", max_hamming=10, method="phash"
            ).collect()
        }
        hashes = {i: phash64_py(img) for i, img, _ in rows}

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        want = {
            (a, b): ham(hashes[a], hashes[b])
            for a in hashes
            for b in hashes
            if a < b and ham(hashes[a], hashes[b]) <= 10
        }
        assert got == want

    def test_unknown_method_rejected(self):
        from clawrag_spark import multimodal as MM

        with pytest.raises(ValueError):
            MM.image_hashes(None, "img_id", method="dhash")


class TestAudioFingerprint:
    """64-bit Haitsma-Kalker energy-delta fingerprint + the shared
    banded Hamming join: amplitude invariance, noise robustness, and
    band-join completeness vs brute-force Hamming."""

    @staticmethod
    def _clip(seed, scale=1.0, noise=0.0, other=False):
        from clawrag_spark.multimodal import encode_wav

        t = np.arange(8000) / 16000.0
        rng = np.random.default_rng(seed)
        f1, f2 = rng.uniform(200, 1800, 2)
        if other:
            sig = 9000 * np.sin(2 * np.pi * (f1 / 2 + 333) * t) * np.exp(-3 * t)
        else:
            sig = 9000 * (np.sin(2 * np.pi * f1 * t)
                          + 0.5 * np.sin(2 * np.pi * f2 * t)
                          + 0.2 * rng.standard_normal(len(t)))
        sig = sig * scale
        if noise:
            sig = sig + noise * np.random.default_rng(seed + 1).standard_normal(len(t))
        return encode_wav(np.clip(sig, -32768, 32767).astype(np.int16))

    def test_afp_amplitude_invariant_noise_robust(self):
        from clawrag_spark.multimodal import afp64_py, decode_wav

        base, _ = decode_wav(self._clip(11))
        half, _ = decode_wav(self._clip(11, scale=0.5))
        noisy, _ = decode_wav(self._clip(11, noise=300))
        other, _ = decode_wav(self._clip(11, other=True))
        f0, fh = afp64_py(base), afp64_py(half)
        fn, fo = afp64_py(noisy), afp64_py(other)

        def ham(a, b):
            return bin((a ^ b) & (2 ** 64 - 1)).count("1")

        assert f0 == fh                      # gain never flips a sign
        assert ham(f0, fn) <= 6              # mild noise: near-dup
        assert ham(f0, fo) > 12              # different material: far

    def test_audio_banded_pairs_match_brute_force(self, spark):
        from clawrag_spark.multimodal import (
            afp64_py, audio_near_dups, decode_wav,
        )

        payloads = {}
        for b in range(6):
            payloads[f"c{b}_base"] = self._clip(100 + b)
            payloads[f"c{b}_half"] = self._clip(100 + b, scale=0.5)
            payloads[f"c{b}_noisy"] = self._clip(100 + b, noise=120)
            payloads[f"c{b}_other"] = self._clip(100 + b, other=True)
        media = spark.createDataFrame(
            [(k, bytearray(v)) for k, v in payloads.items()],
            ["clip_id", "media"],
        )
        got = {
            tuple(sorted((r.doc_a, r.doc_b)))
            for r in audio_near_dups(media, "clip_id", max_hamming=6).collect()
        }
        fps = {k: afp64_py(decode_wav(v)[0]) for k, v in payloads.items()}
        keys = sorted(fps)
        want = {
            (a, b)
            for i, a in enumerate(keys)
            for b in keys[i + 1:]
            if bin((fps[a] ^ fps[b]) & (2 ** 64 - 1)).count("1") <= 6
        }
        assert got == want
        # every base pairs with its gain/noise variants
        for b in range(6):
            assert (f"c{b}_base", f"c{b}_half") in got
            assert (f"c{b}_base", f"c{b}_noisy") in got


class TestExifAndMp3:
    """EXIF/TIFF tag parse + PNG tEXt + MP3 frame-header parse: all
    fixture-built byte-for-byte pins (reference parity:
    backend/src/services/loaders/image_loader.py emits exifread-style
    'Image X' / 'EXIF X' printable-tag dicts)."""

    def _exif_jpeg(self):
        import numpy as np

        from clawrag_spark.multimodal import (
            add_exif_to_jpeg, build_exif_app1, encode_jpeg,
        )

        img = np.full((8, 8, 3), 128, np.uint8)
        app1 = build_exif_app1(
            ifd0={
                0x010F: "ClawCam",
                0x0110: "Model X100",
                0x0112: 6,
                0x0132: "2024:05:01 12:00:00",
                0x011A: (300, 1),
            },
            exif_ifd={
                0x9003: "2024:04:30 08:15:00",
                0x829A: (1, 250),
                0x829D: (28, 10),
                0x8827: 200,
                0xA002: 8,
                0xA003: 8,
            },
        )
        return add_exif_to_jpeg(encode_jpeg(img), app1)

    EXPECTED = {
        "Image Make": "ClawCam",
        "Image Model": "Model X100",
        "Image Orientation": "6",
        "Image DateTime": "2024:05:01 12:00:00",
        "Image XResolution": "300",
        "EXIF DateTimeOriginal": "2024:04:30 08:15:00",
        "EXIF ExposureTime": "1/250",
        "EXIF FNumber": "28/10",
        "EXIF ISOSpeedRatings": "200",
        "EXIF ExifImageWidth": "8",
        "EXIF ExifImageLength": "8",
    }

    def test_parse_exif_jpeg_byte_exact(self):
        from clawrag_spark.multimodal import parse_exif

        assert parse_exif(self._exif_jpeg()) == self.EXPECTED

    def test_parse_exif_big_endian_tiff(self):
        from clawrag_spark.multimodal import build_exif_app1, parse_exif

        app1 = build_exif_app1(
            ifd0={0x010F: "MM Cam", 0x0112: 1},
            exif_ifd={0x8827: 400},
            endian=">",
        )
        tags = parse_exif(app1[10:])  # bare TIFF blob entry point
        assert tags == {
            "Image Make": "MM Cam",
            "Image Orientation": "1",
            "EXIF ISOSpeedRatings": "400",
        }

    def test_jpeg_without_exif_and_garbage(self):
        import numpy as np

        from clawrag_spark.multimodal import encode_jpeg, parse_exif

        assert parse_exif(encode_jpeg(np.zeros((8, 8, 3), np.uint8))) == {}
        assert parse_exif(b"\xff\xd8\xff\xe1\x00\x04xx") == {}
        assert parse_exif(b"total garbage") == {}

    def test_png_text_chunks(self):
        import numpy as np

        from clawrag_spark.multimodal import (
            add_png_text, decode_png, encode_png, parse_exif,
        )

        png = encode_png(np.zeros((4, 4, 3), np.uint8))
        png = add_png_text(png, "Author", "crawler")
        png = add_png_text(png, "Comment", "fixture image")
        assert parse_exif(png) == {
            "PNG Author": "crawler",
            "PNG Comment": "fixture image",
        }
        # inserted chunks keep the image decodable
        assert decode_png(png).shape == (4, 4, 3)

    def test_media_metadata_emits_exif_map(self, spark):
        import numpy as np

        from clawrag_spark.multimodal import encode_bmp, media_metadata

        df = spark.createDataFrame(
            [
                (1, bytearray(self._exif_jpeg())),
                (2, bytearray(encode_bmp(np.zeros((5, 7, 3), np.uint8)))),
            ],
            "media_id int, media binary",
        )
        rows = {
            r["media_id"]: r
            for r in df.select(
                "media_id", media_metadata(F.col("media")).alias("m")
            ).select("media_id", "m.*").collect()
        }
        assert rows[1]["exif"] == self.EXPECTED
        assert rows[1]["format"] == "jpeg"
        assert rows[2]["exif"] is None  # no EXIF → null, not {}

    def test_progressive_jpeg_dims_are_real(self, spark):
        """SOF2 (progressive) dims come from the real marker walk even
        though pixel decode stays a stand-in."""
        import struct

        from clawrag_spark.multimodal import media_metadata

        h, w = 123, 77
        sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
        payload = b"\xff\xd8" + sof2 + b"\xff\xd9"
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "media_id int, media binary"
        )
        m = df.select(media_metadata(F.col("media")).alias("m")).select("m.*").first()
        assert (m["height"], m["width"]) == (h, w)
        assert m["format"] == "jpeg"

    def test_mp3_header_parse_cbr_and_id3(self):
        from clawrag_spark.multimodal import encode_mp3_stub, parse_mp3_header

        raw = encode_mp3_stub(44100, 128, n_frames=38)  # ~1 s
        got = parse_mp3_header(raw)
        assert got["sample_rate"] == 44100
        assert got["bitrate_kbps"] == 128
        assert got["mpeg_version"] == 1
        assert abs(got["duration_sec"] - len(raw) * 8.0 / 128000.0) < 1e-9
        tagged = encode_mp3_stub(48000, 192, n_frames=10, id3_pad=64)
        got2 = parse_mp3_header(tagged)
        assert got2["sample_rate"] == 48000
        assert got2["bitrate_kbps"] == 192
        # duration counts audio bytes only, not the ID3 tag
        audio = len(tagged) - (10 + 64)
        assert abs(got2["duration_sec"] - audio * 8.0 / 192000.0) < 1e-9
        assert parse_mp3_header(b"\x00" * 64) is None

    def test_sniff_raw_mpeg_sync(self):
        from clawrag_spark.multimodal import _sniff, encode_mp3_stub

        assert _sniff(encode_mp3_stub()) == ("audio", "mp3")
        assert _sniff(encode_mp3_stub(id3_pad=16)) == ("audio", "mp3")
        assert _sniff(b"\xff\xd8\xff\xe0rest")[1] == "jpeg"  # SOI wins
        # a valid frame header further in does not vouch for a bad
        # sync at offset 0
        assert _sniff(b"\xff\xe0junk" + encode_mp3_stub()) == ("unknown", "unknown")

    def test_audio_features_mp3_header_only(self, spark):
        import numpy as np

        from clawrag_spark.multimodal import (
            encode_mp3_stub, encode_wav, extract_audio_features,
        )

        wav = encode_wav(
            (np.sin(np.arange(1600) / 10.0) * 20000).astype(np.int16), 16000
        )
        mp3 = encode_mp3_stub(44100, 128, n_frames=38)
        df = spark.createDataFrame(
            [(1, bytearray(wav)), (2, bytearray(mp3))],
            "media_id int, media binary",
        )
        import hashlib as _h

        by_hash = {
            r["content_hash"]: r
            for r in extract_audio_features(df).collect()
        }
        wr = by_hash[_h.sha256(wav).hexdigest()]
        mr = by_hash[_h.sha256(mp3).hexdigest()]
        assert wr["sample_rate"] == 16000 and wr["rms"] is not None
        assert mr["sample_rate"] == 44100
        assert abs(mr["duration_sec"] - len(mp3) * 8.0 / 128000.0) < 1e-5
        assert mr["rms"] is None and mr["n_samples"] is None  # honest
