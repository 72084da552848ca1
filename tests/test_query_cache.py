"""E4 query-result cache: snapshot-keyed, hit-without-index,
auto-invalidated by index growth."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clawrag_spark.cache import cached_bm25_query
from clawrag_spark.deletes import record_takedown
from clawrag_spark.maintenance import purge_bm25_deletes
from clawrag_spark.pipeline import bm25_query_index, read_chunks, run_pipeline

TERMS = ["the", "data", "scale"]


def _scores(df):
    return {r["chunk_id"]: r["bm25_score"] for r in df.collect()}


def test_query_cache_hits_and_invalidates(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages.limit(200), out, run_id="r1", bm25_index=True)

    direct = _scores(bm25_query_index(spark, out, TERMS))
    first = _scores(cached_bm25_query(spark, out, TERMS))
    assert first == direct and len(first) > 0

    # HARD hit proof: remove the index tables entirely — a cache hit
    # must still answer (it never touches the index), a recompute would
    # crash
    index_backup = str(tmp_path / "index_backup")
    shutil.copytree(os.path.join(out, "bm25_index"), index_backup)
    shutil.rmtree(os.path.join(out, "bm25_index", "postings"))
    shutil.rmtree(os.path.join(out, "bm25_index", "doclen"))
    assert _scores(cached_bm25_query(spark, out, TERMS)) == first
    shutil.rmtree(os.path.join(out, "bm25_index"))
    shutil.copytree(index_backup, os.path.join(out, "bm25_index"))

    # different params → different key → its own entry
    other = _scores(cached_bm25_query(spark, out, TERMS, k1=2.0))
    assert other.keys() == first.keys()
    assert other != first
    assert len(os.listdir(os.path.join(out, "query_cache"))) == 2

    # index growth → pointer runs change → old entries invalid by key
    run_pipeline(spark, pages.limit(400), out, run_id="r2", bm25_index=True)
    grown = _scores(cached_bm25_query(spark, out, TERMS))
    assert grown == _scores(bm25_query_index(spark, out, TERMS))
    assert len(grown) > len(first)
    # the stale entry is still on disk under its old key (harmless),
    # the new snapshot key landed alongside
    assert len(os.listdir(os.path.join(out, "query_cache"))) == 3


def test_query_cache_tracks_takedown_and_purge(spark, pages_path, tmp_path):
    """A takedown masks chunks at query time and a purge swaps the
    df/stats snapshot without changing the run set: both must miss the
    cache, so the cached result equals the direct one at every step."""
    out = str(tmp_path / "out")
    run_pipeline(spark, spark.read.parquet(pages_path).limit(150), out,
                 run_id="r1", bm25_index=True)

    def step():
        direct = _scores(bm25_query_index(spark, out, TERMS))
        assert _scores(cached_bm25_query(spark, out, TERMS)) == direct
        return direct

    before = step()
    victim = (
        read_chunks(spark, out).filter(F.col("chunk_id").isin(list(before)))
        .select("url").first()["url"]
    )
    record_takedown(out, [victim])
    masked = step()
    assert set(masked) < set(before)
    assert purge_bm25_deletes(spark, out)["purged"]
    purged = step()
    assert purged.keys() == masked.keys() and purged != masked


def test_query_cache_requires_snapshot(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        cached_bm25_query(spark, str(tmp_path / "empty"), TERMS)
