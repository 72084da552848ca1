"""Vectorized pandas/Arrow UDFs — the only Python-side per-document code.

Each UDF is a thin wrapper over ``clawrag_spark.core`` (the same pure
functions the oracle runs), per the BASELINE.json input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python) throughout".  Everything else in
the engine is built-in Catalyst expressions.

Chunking + embedding has exactly one kernel, :func:`chunk_embed_arrow`;
what differs per document type is only the per-row :class:`Chunker`
(:func:`plain_chunker`, :func:`routed_chunker`, :func:`sentence_chunker`),
and :func:`chunk_embed` is the one Spark step that runs it.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from .core import oracle
from .core.bm25_tokenize import tokenize as _bm25_tokenize
from .core.chunkers import Chunk, sentence_chunks
from .core.embedder import embed_many_np
from .routing import detect_and_chunk

# Every chunk row ends with these columns, after the input columns it
# passes through and its chunker's per-document columns.
_CHUNK_FIELDS = [
    pa.field("chunk_index", pa.int32()),
    pa.field("total_chunks", pa.int32()),
    pa.field("text", pa.string()),
    pa.field("char_start", pa.int64()),
    pa.field("char_end", pa.int64()),
    pa.field("embedding", pa.list_(pa.float32())),
]


class Chunker(NamedTuple):
    """A per-row chunker for :func:`chunk_embed_arrow`.

    ``fn`` takes the row's ``reads`` column values and returns
    ``(doc_values, chunks)``: one value per ``doc_fields`` column (the
    same for every chunk of the row) and the row's
    ``(chunk_index, total_chunks, Chunk)`` triples.
    """

    reads: tuple[str, ...]
    doc_fields: tuple[pa.Field, ...]
    fn: Callable


def _numbered(chunks: list[Chunk]) -> list[tuple[int, int, Chunk]]:
    n = len(chunks)
    return [(i, n, c) for i, c in enumerate(chunks)]


def plain_chunker(chunk_size: int, overlap: int) -> Chunker:
    """The separator cascade (C2) the pipeline chunks with by default."""
    return Chunker(
        ("text",), (),
        lambda text: ((), _numbered(
            oracle.chunk_document(text or "", chunk_size, overlap))),
    )


def routed_chunker() -> Chunker:
    """Route dispatch (S13 → C5/C7/S11 chunkers + C9 profiles, C8 per-MIME
    sizes on the default profile) via ``routing.detect_and_chunk``; adds
    the ``route`` and ``profile`` columns.  A document with no chunks
    (rejected by the extension/MIME crosscheck, or empty) yields one
    marker row — chunk_index −1, total_chunks 0, empty text — so it stays
    countable downstream."""

    def fn(url, mime, text):
        route, profile, chunks = detect_and_chunk(url, mime, text or "")
        return (route, profile), _numbered(chunks) or [(-1, 0, Chunk("", 0, 0))]

    return Chunker(
        ("url", "mime", "text"),
        (pa.field("route", pa.string()), pa.field("profile", pa.string())),
        fn,
    )


def sentence_chunker(chunk_size: int, overlap: int) -> Chunker:
    """Sentence chunks (C3) — the C6 parent-child children."""
    return Chunker(
        ("text",), (),
        lambda text: ((), _numbered(
            sentence_chunks(text or "", chunk_size, overlap))),
    )


def chunk_output_schema(input_schema: pa.Schema, chunker: Chunker) -> pa.Schema:
    """The kernel's output schema: the input columns but ``text``, then
    the chunker's per-document columns, then the chunk columns."""
    return pa.schema(
        [f for f in input_schema if f.name != "text"]
        + list(chunker.doc_fields) + _CHUNK_FIELDS
    )


def chunk_embed_arrow(chunker: Chunker, embed_dim: int):
    """The chunk+embed stage for ``mapInArrow``: one flat row per chunk.

    Python runs only the chunker per row and the embedder once per
    batch (``embed_many_np``); the input columns are repeated per chunk
    by ``RecordBatch.take`` and the embedding column is assembled
    zero-copy as a ``pa.ListArray`` over the one float32 matrix.
    Building nested array<struct> rows instead (then posexplode) costs
    more than the chunking itself at 10^5+ chunks/batch.

    Input batches need a ``text`` column plus the chunker's ``reads``.
    """

    def run(iterator):
        for batch in iterator:
            reads = [batch.column(c).to_pylist() for c in chunker.reads]
            rows, docs, idx, total, texts, starts, ends = [], [], [], [], [], [], []
            for row, values in enumerate(zip(*reads)):
                doc, chunks = chunker.fn(*values)
                docs.append(doc)
                for i, n, c in chunks:
                    rows.append(row)
                    idx.append(i)
                    total.append(n)
                    texts.append(c.text)
                    starts.append(c.char_start)
                    ends.append(c.char_end)
            flat = embed_many_np(texts, embed_dim).reshape(-1)
            offsets = np.arange(
                0, (len(texts) + 1) * embed_dim, embed_dim, dtype=np.int32
            )
            schema = chunk_output_schema(batch.schema, chunker)
            take = pa.array(rows, pa.int32())
            passed = batch.drop_columns("text").take(take)
            doc_cols = [
                pa.array([d[k] for d in docs], f.type).take(take)
                for k, f in enumerate(chunker.doc_fields)
            ]
            yield pa.RecordBatch.from_arrays(
                passed.columns + doc_cols + [
                    pa.array(idx, pa.int32()),
                    pa.array(total, pa.int32()),
                    pa.array(texts, pa.string()),
                    pa.array(starts, pa.int64()),
                    pa.array(ends, pa.int64()),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
                ],
                schema=schema,
            )

    return run


def make_chunk_embed_arrow(chunk_size: int, overlap: int, embed_dim: int):
    """:func:`chunk_embed_arrow` with the separator cascade."""
    return chunk_embed_arrow(plain_chunker(chunk_size, overlap), embed_dim)


def chunk_embed(df: DataFrame, chunker: Chunker, embed_dim: int) -> DataFrame:
    """The Spark chunk+embed step: ``df`` rows → flat chunk rows
    (:func:`chunk_output_schema`) plus ``chunk_id`` =
    ``<doc_id>_chunk_<chunk_index>``."""
    out = from_arrow_schema(chunk_output_schema(to_arrow_schema(df.schema), chunker))
    return df.mapInArrow(chunk_embed_arrow(chunker, embed_dim), out).withColumn(
        "chunk_id",
        F.concat_ws("_", F.col("doc_id"), F.lit("chunk"), F.col("chunk_index")),
    )


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
