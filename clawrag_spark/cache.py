"""Query-result cache (E4) over the persisted BM25 index.

Mirrors query_cache.py's md5-keyed result cache, re-expressed for a
warehouse: the cache key folds in the query (terms + BM25 parameters)
AND everything a probe's result depends on — the pointer's committed
run set, its ``df``/``stats`` snapshot names, and the basenames of the
committed equality-delete files (deletes.py).  So every change
invalidates by construction: index growth is a new run set, a takedown
is a new delete file (merge-on-read masking), a purge is a new df/stats
snapshot — no TTL or explicit invalidation path needed (the reference
invalidates per collection version; these parts ARE the version here).
Entries are parquet directories committed by Spark's _SUCCESS marker;
a crashed half-written entry is simply recomputed over.

The embedding cache (E3) is already structural in this engine: chunk
embeddings persist in the chunks/embeddings tables and the resume
anti-join never re-embeds committed docs (pipeline.py S18).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession

from .deletes import _committed_delete_files
from .operators import retrieval as R
from .pipeline import _bm25_current, bm25_query_index


def _cache_key(
    terms: list[str], params: dict, snapshot: dict, delete_files: list[str]
) -> str:
    payload = json.dumps(
        {
            "terms": [t.lower() for t in terms],
            "params": params,
            "runs": sorted(snapshot.get("runs") or [snapshot.get("run_id")]),
            "df": snapshot["df"],
            "stats": snapshot["stats"],
            "deletes": delete_files,
        },
        sort_keys=True,
    )
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


def cached_bm25_query(
    spark: SparkSession,
    out_dir: str,
    query_terms: list[str],
    k1: float = R.BM25_K1,
    b: float = R.BM25_B,
    epsilon: float = R.BM25_EPSILON,
    cache_dir: str | None = None,
) -> DataFrame:
    """``bm25_query_index`` behind a snapshot-keyed result cache.

    Hit → read the committed parquet entry (no index scan at all).
    Miss → compute, commit the entry, read it back (so hit and miss
    return byte-identical frames).
    """
    cache_dir = cache_dir or os.path.join(out_dir, "query_cache")
    current = _bm25_current(os.path.join(out_dir, "bm25_index"))
    if current is None:
        raise FileNotFoundError(f"no committed BM25 snapshot in {out_dir}")
    deletes = [os.path.basename(f) for f in _committed_delete_files(out_dir)]
    key = _cache_key(
        query_terms, {"k1": k1, "b": b, "epsilon": epsilon}, current, deletes
    )
    entry = os.path.join(cache_dir, key)
    if not os.path.exists(os.path.join(entry, "_SUCCESS")):
        result = bm25_query_index(spark, out_dir, query_terms, k1, b, epsilon)
        result.write.mode("overwrite").parquet(entry)
    return spark.read.parquet(entry)
