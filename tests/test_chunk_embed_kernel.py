"""The one chunk+embed Arrow kernel, driven in-process (no Spark session)
with each of its chunkers on hand-built RecordBatches: every output row's
span and embedding against the pure per-document functions."""

import pyarrow as pa
import pytest

from clawrag_spark.core import oracle
from clawrag_spark.core.chunkers import sentence_chunks
from clawrag_spark.core.embedder import embed_text
from clawrag_spark.corpus import generate_pages
from clawrag_spark.routing import detect_and_chunk
from clawrag_spark.udfs import (
    chunk_embed_arrow,
    chunk_output_schema,
    plain_chunker,
    routed_chunker,
    sentence_chunker,
)

DIM = 16


def _docs():
    """(url, mime, text) rows: seeded pages, a None text and a .pdf url
    whose sniffed HTML content the extension crosscheck rejects."""
    rows = []
    for r in generate_pages(12, seed=5).to_pylist():
        d = oracle.process_document(r["html"], r["lang"])
        rows.append((r["url"], d.mime, d.text))
    rows.append(("http://h.example/none", "text/html", None))
    rows.append(("http://h.example/fake.pdf", "text/html", "not a pdf at all. " * 20))
    return rows


def _batch(rows):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([u for u, _, _ in rows], pa.string()),
            pa.array(range(len(rows)), pa.int32()),
            pa.array([f"d{i}" for i in range(len(rows))], pa.string()),
            pa.array([m for _, m, _ in rows], pa.string()),
            pa.array([t for _, _, t in rows], pa.string()),
        ],
        names=["url", "url_bucket", "doc_id", "mime", "text"],
    )


def _expected_plain(url, mime, text):
    chunks = oracle.chunk_document(text or "", 300, 40)
    return [((), i, len(chunks), c) for i, c in enumerate(chunks)]


def _expected_routed(url, mime, text):
    route, profile, chunks = detect_and_chunk(url, mime, text or "")
    if not chunks:
        return [((route, profile), -1, 0, ("", 0, 0))]
    return [((route, profile), i, len(chunks), c) for i, c in enumerate(chunks)]


def _expected_sentence(url, mime, text):
    chunks = sentence_chunks(text or "", 60, 10)
    return [((), i, len(chunks), c) for i, c in enumerate(chunks)]


@pytest.mark.parametrize(
    "chunker, expected",
    [
        (plain_chunker(300, 40), _expected_plain),
        (routed_chunker(), _expected_routed),
        (sentence_chunker(60, 10), _expected_sentence),
    ],
    ids=["plain", "routed", "sentence"],
)
def test_kernel_rows_match_oracle(chunker, expected):
    rows = _docs()
    batch = _batch(rows)
    out = list(chunk_embed_arrow(chunker, DIM)(iter([batch, batch.slice(0, 0)])))
    assert len(out) == 2
    schema = chunk_output_schema(batch.schema, chunker)
    assert all(b.schema == schema for b in out)
    assert out[1].num_rows == 0

    want = []
    for bucket, (url, mime, text) in enumerate(rows):
        for doc, i, n, (ctext, start, end) in expected(url, mime, text):
            want.append({
                "url": url, "url_bucket": bucket, "doc_id": f"d{bucket}",
                "mime": mime,
                **{f.name: v for f, v in zip(chunker.doc_fields, doc)},
                "chunk_index": i, "total_chunks": n, "text": ctext,
                "char_start": start, "char_end": end,
                "embedding": embed_text(ctext, DIM),
            })
    got = out[0].to_pylist()
    assert len(got) == len(want) > len(rows)
    for g, w in zip(got, want):
        assert g == w


def test_routed_marker_and_none_rows():
    """The rejected .pdf row and the None-text row each leave exactly one
    marker row with the all-zero embedding of ""."""
    rows = _docs()
    got = next(chunk_embed_arrow(routed_chunker(), DIM)(iter([_batch(rows)])))
    markers = [r for r in got.to_pylist() if r["total_chunks"] == 0]
    assert [r["url"] for r in markers] == [rows[-2][0], rows[-1][0]]
    assert markers[1]["route"].startswith("rejected:")
    for r in markers:
        assert r["chunk_index"] == -1 and r["text"] == ""
        assert r["embedding"] == [0.0] * DIM

