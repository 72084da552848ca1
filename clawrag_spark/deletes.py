"""Merge-on-read row-level deletes (URL takedown) over the pipeline's
committed tables — the Iceberg v2 equality-delete shape on plain
parquet.

A takedown (legal removal, robots retro-compliance, opt-out list) at
10^12-document scale cannot rewrite a 100 TB table synchronously.  The
lakehouse answer is an EQUALITY DELETE FILE: commit a tiny file naming
the deleted keys, have every read anti-join it (merge-on-read), and
fold the deletes into the data files later, during maintenance
(copy-on-write materialization).  Reference behavior parity: the
reference deletes documents through its store API
(backend/services/document_service.py delete paths) and the collection
drop cascade; here the same observable effect — deleted urls are
invisible to every committed read — is reached without touching the
data files on the delete path.

Commit protocol, matching the pipeline's manifest discipline
(pipeline.py:406-470 — single atomic commit point, no partial states):

* ``record_takedown`` writes the delete list to a dot-temp file and
  ``os.rename``s it into ``<out_dir>/deletes/`` — the rename IS the
  commit; readers glob only committed (non-dot) files.
* ``deleted_urls`` / the read path union ALL committed delete files —
  deletes are append-only and idempotent (a url named twice is still
  just absent).
* ``materialize_deletes`` rewrites each data table without the deleted
  rows (tmp dir + the compaction module's acknowledged two-rename
  swap), THEN retires the delete files into ``deletes/.applied/``.
  A crash between table swaps is safe: un-retired delete files keep
  masking the not-yet-rewritten tables, and re-running the
  materialization anti-joins already-clean tables into themselves
  (idempotent).  Retiring is rename-only, per file, last.

Scale shape: the delete set is bounded by the takedown list (thousands
to millions of 50-byte keys), so the merge-on-read anti-join
broadcasts — zero extra shuffle on the 100 TB side; materialization is
one full rewrite per table, the same cost envelope as compaction, and
resets the amortization clock.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

DELETES_SUBDIR = "deletes"
APPLIED_SUBDIR = ".applied"
_DEL_RE = re.compile(r"^del_(\d{6,})_[0-9a-f]{8}\.parquet$")
# what ``record_takedown`` writes; declared on read so masking a
# committed view never starts a schema-inference job
_DELETE_SCHEMA = "url string, reason string, seq bigint"


def _deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, DELETES_SUBDIR)


def _committed_delete_files(out_dir: str) -> list[str]:
    d = _deletes_dir(out_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if _DEL_RE.match(f)
    )


def _next_seq(out_dir: str) -> int:
    """1 + the highest sequence ever committed (live OR applied) —
    monotonic so the audit trail keeps takedown order across
    materializations."""
    seqs = [0]
    d = _deletes_dir(out_dir)
    for sub in ("", APPLIED_SUBDIR):
        p = os.path.join(d, sub) if sub else d
        if not os.path.isdir(p):
            continue
        for f in os.listdir(p):
            m = _DEL_RE.match(f)
            if m:
                seqs.append(int(m.group(1)))
    return max(seqs) + 1


def record_takedown(
    out_dir: str, urls, reason: str = "takedown"
) -> dict:
    """Commit an equality-delete file naming ``urls``.

    ``urls`` is a driver-side iterable of url strings (takedown lists
    are small by nature; a DataFrame-sized delete is a job for
    ``materialize_deletes`` directly).  Duplicate urls are collapsed;
    an empty list is rejected rather than committing a vacuous file.
    Returns {path, n_urls, seq}.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    url_list = sorted(set(urls))
    if not url_list:
        raise ValueError("record_takedown needs at least one url")
    d = _deletes_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    seq = _next_seq(out_dir)
    digest = hashlib.sha256(
        ("\n".join(url_list) + "\x00" + reason).encode()
    ).hexdigest()[:8]
    name = f"del_{seq:06d}_{digest}.parquet"
    tmp = os.path.join(d, "." + name + ".tmp")
    final = os.path.join(d, name)
    table = pa.table(
        {
            "url": pa.array(url_list, pa.string()),
            "reason": pa.array([reason] * len(url_list), pa.string()),
            "seq": pa.array([seq] * len(url_list), pa.int64()),
        }
    )
    pq.write_table(table, tmp)
    os.rename(tmp, final)  # the commit point
    return {"path": final, "n_urls": len(url_list), "seq": seq}


def deleted_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """All committed deletes as (url, reason, seq), or None when no
    delete file exists.  Distinct on url is left to the consumer —
    anti-join semantics don't need it, the audit report does not want
    it."""
    files = _committed_delete_files(out_dir)
    if not files:
        return None
    return spark.read.schema(_DELETE_SCHEMA).parquet(*files)


def apply_merge_on_read(
    df: DataFrame | None, dels: DataFrame | None, key: str = "url"
) -> DataFrame | None:
    """Mask deleted keys out of a committed view: broadcast left-anti
    join — the delete set is takedown-list-sized, so the big side
    never shuffles."""
    if df is None or dels is None:
        return df
    return df.join(
        F.broadcast(dels.select(key).distinct()), key, "left_anti"
    )


def takedown_report(spark: SparkSession, out_dir: str) -> dict:
    """Audit view: committed delete files, distinct deleted urls, and
    per-table counts of rows currently masked (merge-on-read) —
    i.e. rows a reader no longer sees but the data files still hold
    until the next ``materialize_deletes``."""
    from . import pipeline as P

    files = _committed_delete_files(out_dir)
    report: dict = {"n_delete_files": len(files), "masked": {}}
    dels = deleted_urls(spark, out_dir)
    if dels is None:
        report["n_deleted_urls"] = 0
        return report
    dd = dels.select("url").distinct().persist()
    report["n_deleted_urls"] = dd.count()
    for table, reader in (
        ("extracted", P.read_extracted),
        ("chunks", P.read_chunks),
    ):
        df = reader(spark, out_dir, apply_deletes=False)
        report["masked"][table] = (
            0
            if df is None
            else df.join(F.broadcast(dd), "url", "left_semi").count()
        )
    dd.unpersist()
    return report


def materialize_deletes(
    spark: SparkSession,
    out_dir: str,
    tables=("extracted", "chunks"),
) -> dict:
    """Fold committed deletes into the data files (copy-on-write) and
    retire the delete files.

    Per table: read the FULL directory (orphans from crashed runs
    included — they must not resurrect a deleted url on a later
    commit), anti-join the delete set, rewrite to a tmp sibling, swap
    with the compaction module's two renames, and invalidate the
    manifest file lists (every file was replaced; readers fall back to
    the full-dir read until new runs re-list — zonemaps.py behavior,
    proven by the compaction tests).  Delete files are retired LAST,
    one rename each, into ``deletes/.applied/`` — so a crash anywhere
    leaves either a masked read (files still live) or a clean table
    (idempotent re-run), never a resurrected url.
    """
    from . import zonemaps

    dels = deleted_urls(spark, out_dir)
    if dels is None:
        return {"applied": False, "reason": "no_deletes"}
    keys = dels.select("url").distinct()
    report: dict = {"applied": True, "tables": {}}
    for table in tables:
        path = os.path.join(out_dir, table)
        if not os.path.isdir(path):
            report["tables"][table] = {"rewritten": False,
                                       "reason": "missing"}
            continue
        df = spark.read.parquet(path)
        if "url" not in df.columns:
            report["tables"][table] = {"rewritten": False,
                                       "reason": "no_url_column"}
            continue
        before = df.count()
        kept = df.join(F.broadcast(keys), "url", "left_anti")
        tmp = path.rstrip("/") + ".del_tmp"
        old = path.rstrip("/") + ".del_old"
        shutil.rmtree(tmp, ignore_errors=True)
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        zonemaps.invalidate_file_lists(out_dir, [table])
        after = spark.read.parquet(path).count()
        report["tables"][table] = {
            "rewritten": True,
            "rows_before": before,
            "rows_removed": before - after,
        }
    # Retire ONLY when every url-bearing table on disk was folded this
    # call — a partial-tables fold must leave the delete files live, or
    # the un-folded tables would silently unmask.
    url_tables = [
        t
        for t in ("extracted", "chunks")
        if os.path.isdir(os.path.join(out_dir, t))
    ]
    retired = 0
    if all(t in tables for t in url_tables):
        applied_dir = os.path.join(_deletes_dir(out_dir), APPLIED_SUBDIR)
        os.makedirs(applied_dir, exist_ok=True)
        for f in _committed_delete_files(out_dir):
            os.rename(f, os.path.join(applied_dir, os.path.basename(f)))
            retired += 1
    report["retired_delete_files"] = retired
    return report
