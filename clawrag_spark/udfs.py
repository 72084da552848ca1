"""Vectorized pandas/Arrow UDFs — the only Python-side per-document code.

Each UDF is a thin wrapper over ``clawrag_spark.core`` (the same pure
functions the oracle runs), per the BASELINE.json input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python) throughout".  Everything else in
the engine is built-in Catalyst expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .core import oracle
from .core.bm25_tokenize import tokenize as _bm25_tokenize

CHUNK_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_bucket", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("char_start", T.LongType()),
        T.StructField("char_end", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def make_chunk_embed_arrow(chunk_size: int, overlap: int, embed_dim: int):
    """Arrow-native chunk+embed stage for ``mapInArrow``.

    Emits FLAT chunk rows (no array<struct> + posexplode): building the
    nested pandas objects and converting them to Arrow costs more than
    the chunking itself at 10^5+ chunks/batch.  Here the embedding
    column is assembled zero-copy from one flat float32 numpy buffer via
    ``pa.ListArray.from_arrays`` — the Python-side cost is exactly the
    chunker + embedder math, nothing else.

    Input batches need columns: url, url_bucket, doc_id, text.
    """
    import numpy as np
    import pyarrow as pa

    from .core.embedder import embed_text_np

    out_type = pa.schema(
        [
            ("url", pa.string()),
            ("url_bucket", pa.int32()),
            ("doc_id", pa.string()),
            ("chunk_index", pa.int32()),
            ("total_chunks", pa.int32()),
            ("text", pa.string()),
            ("char_start", pa.int64()),
            ("char_end", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
        ]
    )

    def run(iterator):
        for batch in iterator:
            urls = batch.column("url").to_pylist()
            buckets = batch.column("url_bucket").to_pylist()
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()

            o_url, o_bucket, o_doc = [], [], []
            o_idx, o_total, o_text = [], [], []
            o_start, o_end = [], []
            vecs = []
            for url, bucket, doc_id, text in zip(urls, buckets, doc_ids, texts):
                chunks = oracle.chunk_document(text or "", chunk_size, overlap)
                n = len(chunks)
                for i, c in enumerate(chunks):
                    o_url.append(url)
                    o_bucket.append(bucket)
                    o_doc.append(doc_id)
                    o_idx.append(i)
                    o_total.append(n)
                    o_text.append(c.text)
                    o_start.append(c.char_start)
                    o_end.append(c.char_end)
                    vecs.append(embed_text_np(c.text, embed_dim))
            n_chunks = len(o_url)
            flat = np.concatenate(vecs) if n_chunks else np.empty(0, dtype=np.float32)
            offsets = pa.array(
                np.arange(0, (n_chunks + 1) * embed_dim, embed_dim, dtype=np.int32)
            )
            emb_arr = pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_url, pa.string()),
                    pa.array(o_bucket, pa.int32()),
                    pa.array(o_doc, pa.string()),
                    pa.array(o_idx, pa.int32()),
                    pa.array(o_total, pa.int32()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_start, pa.int64()),
                    pa.array(o_end, pa.int64()),
                    emb_arr,
                ],
                schema=out_type,
            )

    return run


def make_chunk_embed_arrow_by_mime(embed_dim: int):
    """Per-type chunk configs (C8/C9): same Arrow-native stage, but the
    (size, overlap) pair is selected per row from the sniffed MIME route
    (chunk_config.CONFIG_BY_MIME — ingest_config.py:29-38 semantics).

    Input batches need columns: url, url_bucket, doc_id, mime, text.
    """
    import numpy as np
    import pyarrow as pa

    from .chunk_config import config_for_mime
    from .core.embedder import embed_text_np

    out_type = pa.schema(
        [
            ("url", pa.string()),
            ("url_bucket", pa.int32()),
            ("doc_id", pa.string()),
            ("chunk_index", pa.int32()),
            ("total_chunks", pa.int32()),
            ("text", pa.string()),
            ("char_start", pa.int64()),
            ("char_end", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
        ]
    )

    def run(iterator):
        for batch in iterator:
            urls = batch.column("url").to_pylist()
            buckets = batch.column("url_bucket").to_pylist()
            doc_ids = batch.column("doc_id").to_pylist()
            mimes = batch.column("mime").to_pylist()
            texts = batch.column("text").to_pylist()

            o = {k: [] for k in ("url", "bucket", "doc", "idx", "total",
                                 "text", "start", "end")}
            vecs = []
            for url, bucket, doc_id, mime, text in zip(
                urls, buckets, doc_ids, mimes, texts
            ):
                cfg = config_for_mime(mime)
                chunks = oracle.chunk_document(
                    text or "", cfg.chunk_size, cfg.chunk_overlap
                )
                n = len(chunks)
                for i, c in enumerate(chunks):
                    o["url"].append(url)
                    o["bucket"].append(bucket)
                    o["doc"].append(doc_id)
                    o["idx"].append(i)
                    o["total"].append(n)
                    o["text"].append(c.text)
                    o["start"].append(c.char_start)
                    o["end"].append(c.char_end)
                    vecs.append(embed_text_np(c.text, embed_dim))
            n_chunks = len(o["url"])
            flat = np.concatenate(vecs) if n_chunks else np.empty(0, dtype=np.float32)
            offsets = pa.array(
                np.arange(0, (n_chunks + 1) * embed_dim, embed_dim, dtype=np.int32)
            )
            emb_arr = pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o["url"], pa.string()),
                    pa.array(o["bucket"], pa.int32()),
                    pa.array(o["doc"], pa.string()),
                    pa.array(o["idx"], pa.int32()),
                    pa.array(o["total"], pa.int32()),
                    pa.array(o["text"], pa.string()),
                    pa.array(o["start"], pa.int64()),
                    pa.array(o["end"], pa.int64()),
                    emb_arr,
                ],
                schema=out_type,
            )

    return run


ROUTED_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_bucket", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("route", T.StringType()),
        T.StructField("profile", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("char_start", T.LongType()),
        T.StructField("char_end", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def make_chunk_embed_arrow_routed(embed_dim: int):
    """Route-dispatched Arrow chunk+embed stage (S13 + C5/C7/S11 dispatch
    + C9 profiles): per row, detect the data type from (url, mime, text),
    pick the route's chunker and profile config, chunk, embed — one
    Python pass, flat Arrow output, zero-copy embedding buffer.

    Input batches need columns: url, url_bucket, doc_id, mime, text.
    """
    import numpy as np
    import pyarrow as pa

    from .routing import detect_and_chunk

    out_type = pa.schema(
        [
            ("url", pa.string()),
            ("url_bucket", pa.int32()),
            ("doc_id", pa.string()),
            ("route", pa.string()),
            ("profile", pa.string()),
            ("chunk_index", pa.int32()),
            ("total_chunks", pa.int32()),
            ("text", pa.string()),
            ("char_start", pa.int64()),
            ("char_end", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
        ]
    )

    from .core.embedder import embed_text_np

    def run(iterator):
        for batch in iterator:
            urls = batch.column("url").to_pylist()
            buckets = batch.column("url_bucket").to_pylist()
            doc_ids = batch.column("doc_id").to_pylist()
            mimes = batch.column("mime").to_pylist()
            texts = batch.column("text").to_pylist()

            o = {k: [] for k in ("url", "bucket", "doc", "route", "profile",
                                 "idx", "total", "text", "start", "end")}
            vecs = []
            for url, bucket, doc_id, mime, text in zip(
                urls, buckets, doc_ids, mimes, texts
            ):
                route, profile, chunks = detect_and_chunk(url, mime, text or "")
                n = len(chunks)
                if n == 0:
                    # marker row: rejected/empty docs stay countable
                    o["url"].append(url)
                    o["bucket"].append(bucket)
                    o["doc"].append(doc_id)
                    o["route"].append(route)
                    o["profile"].append(profile)
                    o["idx"].append(-1)
                    o["total"].append(0)
                    o["text"].append("")
                    o["start"].append(0)
                    o["end"].append(0)
                    vecs.append(embed_text_np("", embed_dim))
                    continue
                for i, c in enumerate(chunks):
                    o["url"].append(url)
                    o["bucket"].append(bucket)
                    o["doc"].append(doc_id)
                    o["route"].append(route)
                    o["profile"].append(profile)
                    o["idx"].append(i)
                    o["total"].append(n)
                    o["text"].append(c.text)
                    o["start"].append(c.char_start)
                    o["end"].append(c.char_end)
                    vecs.append(embed_text_np(c.text, embed_dim))
            n_chunks = len(o["url"])
            flat = np.concatenate(vecs) if n_chunks else np.empty(0, dtype=np.float32)
            offsets = pa.array(
                np.arange(0, (n_chunks + 1) * embed_dim, embed_dim, dtype=np.int32)
            )
            emb_arr = pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o["url"], pa.string()),
                    pa.array(o["bucket"], pa.int32()),
                    pa.array(o["doc"], pa.string()),
                    pa.array(o["route"], pa.string()),
                    pa.array(o["profile"], pa.string()),
                    pa.array(o["idx"], pa.int32()),
                    pa.array(o["total"], pa.int32()),
                    pa.array(o["text"], pa.string()),
                    pa.array(o["start"], pa.int64()),
                    pa.array(o["end"], pa.int64()),
                    emb_arr,
                ],
                schema=out_type,
            )

    return run


@F.pandas_udf(T.ArrayType(T.StringType()))
def bm25_tokens(text: pd.Series) -> pd.Series:
    """Index-side BM25 tokenizer (bm25_index.py:21-54 semantics)."""
    return pd.Series([_bm25_tokenize(t) for t in text])


EMAIL_SCHEMA = T.StructType(
    [
        T.StructField("body", T.StringType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("error", T.StringType()),
    ]
)


@F.pandas_udf(EMAIL_SCHEMA)
def parse_email_udf(payload: pd.Series) -> pd.DataFrame:
    """S11: RFC-822 parse over binary payloads (email_loader.py:48-108)."""
    from .core.email_parse import parse_email

    out = {"body": [], "headers": [], "error": []}
    for p in payload:
        r = parse_email(p)
        out["body"].append(r.body)
        out["headers"].append(r.headers)
        out["error"].append(r.error)
    return pd.DataFrame(out)
