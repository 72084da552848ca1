"""Table maintenance: small-file compaction.

Every incremental writer in this engine (batch resume appends, BM25
postings per-run dirs) trades write latency for file count — at
10^12-document scale an un-compacted table decays into millions of
KB-sized files whose open/footer costs dominate scans.
``compact_parquet_dir`` is the maintenance pass: bin-pack a parquet
directory into ~``target_file_bytes`` files and swap the result in
atomically.  It is layout-preserving (all columns, including lineage
``run_id``), so manifest-gated readers (``read_chunks``,
``bm25_query_index``) are unaffected.

Production note: on Iceberg this is ``rewrite_data_files`` — the swap
is a snapshot commit and readers never observe an intermediate state.
On a plain filesystem the swap is two renames; the sub-millisecond
window where the directory is mid-rename is the price of the parquet
stand-in (same caveat as every non-transactional table layout).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for the parquet files under path."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Rewrite ``path`` into ~``target_file_bytes``-sized files.

    No-op (returns stats, touches nothing) when the directory already
    has fewer than ``min_files`` data files or doesn't exist.  The
    rewrite goes to a sibling temp dir and swaps in with two renames.
    Row-level content is preserved exactly (pinned by tests); only the
    file layout changes.
    """
    if not os.path.isdir(path):
        return {"compacted": False, "reason": "missing"}
    files_before, total_bytes = dir_stats(path)
    if files_before < min_files:
        return {
            "compacted": False,
            "reason": "already_compact",
            "files_before": files_before,
            "bytes": total_bytes,
        }
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_out >= files_before:
        return {
            "compacted": False,
            "reason": "already_compact",
            "files_before": files_before,
            "bytes": total_bytes,
        }
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact_tmp"
    old = path.rstrip("/") + ".compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    # coalesce, not repartition: bin-packing needs no shuffle — each
    # output task concatenates whole input files
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    # the rewrite replaced every file — per-run manifest file lists for
    # this table are now stale; drop them explicitly (readers also
    # existence-check as a safety net) so reads fall back to the full
    # directory until new runs re-establish lists
    from . import zonemaps

    zonemaps.invalidate_file_lists(
        os.path.dirname(path.rstrip("/")), [os.path.basename(path.rstrip("/"))]
    )
    files_after, bytes_after = dir_stats(path)
    return {
        "compacted": True,
        "files_before": files_before,
        "files_after": files_after,
        "bytes": bytes_after,
    }


def compact_pipeline_output(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact every append-accumulating table of a pipeline out_dir
    (extracted, chunks, audit, metrics — NOT the BM25 per-run delta
    dirs, whose run_id partition structure is the index's merge unit)."""
    results = {}
    for sub in ("extracted", "chunks", "dedup_audit", "metrics"):
        results[sub] = compact_parquet_dir(
            spark, os.path.join(out_dir, sub), target_file_bytes
        )
    return results


def expire_runs(
    spark: SparkSession, out_dir: str, keep_last: int = 2
) -> dict:
    """Snapshot expiration: consolidate all but the newest ``keep_last``
    runs into one base snapshot (Iceberg ``expire_snapshots`` +
    ``rewrite_manifests`` parity for the plain-parquet layout).

    Every table keeps its ROWS — expiry collapses lineage, not data, so
    resume (doc-hash anti-join) and BM25 scoring are unaffected; only
    time travel to the expired run ids stops resolving.  Old rows are
    re-labeled with a synthetic ``base-<last-old-run>`` id whose
    manifest commits FIRST, then tables rewrite one atomic swap at a
    time, then the old manifests drop, then BM25 delta partitions merge
    and the pointer swaps.  Every ROW stays covered by some committed
    manifest throughout, but each table swap has the same two-rename
    window as the compaction module: a crash (or concurrent reader)
    between ``rename(path, .expire_old)`` and ``rename(.expire_tmp,
    path)`` sees the table directory briefly missing — recover by
    renaming the ``.expire_old`` directory back into place (it holds
    the complete pre-expiration table).
    """
    import json as _json

    from .pipeline import _bm25_commit_pointer, completed_run_ids

    runs = completed_run_ids(out_dir)
    if len(runs) <= keep_last:
        return {"expired": False, "reason": "history_within_keep_last",
                "n_runs": len(runs)}
    old = runs[: len(runs) - keep_last]
    base_id = f"base-{old[-1]}"
    manifest_dir = os.path.join(out_dir, "manifest")

    # 1. commit the base manifest first (rows renamed later are covered
    # the moment they appear)
    totals = {"n_input": 0, "n_processed": 0, "n_chunks": 0}
    committed_at = None
    for rid in old:
        with open(os.path.join(manifest_dir, f"run_{rid}.json")) as fh:
            m = _json.load(fh)
        for k in totals:
            totals[k] += m.get(k) or 0
        ts = m.get("committed_at") or os.path.getmtime(
            os.path.join(manifest_dir, f"run_{rid}.json")
        )
        committed_at = ts if committed_at is None else min(committed_at, ts)
    base_manifest = {
        "run_id": base_id, **totals, "expired_runs": old,
        "committed_at": committed_at,
    }
    with open(os.path.join(manifest_dir, f"run_{base_id}.json"), "w") as fh:
        _json.dump(base_manifest, fh, indent=2)

    # 2. rewrite each run_id-carrying table with old ids mapped to base
    from pyspark.sql import functions as F

    rewritten = []
    for sub in ("extracted", "chunks", "dedup_audit", "metrics"):
        path = os.path.join(out_dir, sub)
        if not os.path.isdir(path):
            continue
        df = spark.read.parquet(path)
        if "run_id" not in df.columns:
            continue
        out = df.withColumn(
            "run_id",
            F.when(F.col("run_id").isin(old), F.lit(base_id))
            .otherwise(F.col("run_id")),
        )
        tmp = path.rstrip("/") + ".expire_tmp"
        bak = path.rstrip("/") + ".expire_old"
        shutil.rmtree(tmp, ignore_errors=True)
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(bak, ignore_errors=True)
        os.rename(path, bak)
        os.rename(tmp, path)
        shutil.rmtree(bak, ignore_errors=True)
        rewritten.append(sub)

    # the rewrites replaced the kept runs' files too — invalidate every
    # manifest's file lists for the rewritten tables (zone-map contract)
    from . import zonemaps

    zonemaps.invalidate_file_lists(out_dir, rewritten)

    # 3. drop the expired manifests
    for rid in old:
        os.remove(os.path.join(manifest_dir, f"run_{rid}.json"))

    # 4. merge BM25 delta partitions + swap the pointer
    index_dir = os.path.join(out_dir, "bm25_index")
    pointer_path = os.path.join(index_dir, "_current.json")
    bm25_merged = False
    if os.path.exists(pointer_path):
        with open(pointer_path) as fh:
            pointer = _json.load(fh)
        expired_in_ptr = [r for r in pointer.get("runs", []) if r in old]
        if expired_in_ptr:
            for tbl in ("postings", "doclen"):
                root = os.path.join(index_dir, tbl)
                src_dirs = [
                    os.path.join(root, f"run_id={rid}")
                    for rid in expired_in_ptr
                    if os.path.isdir(os.path.join(root, f"run_id={rid}"))
                ]
                if not src_dirs:
                    continue
                merged = spark.read.parquet(*src_dirs)
                dst = os.path.join(root, f"run_id={base_id}")
                tmp = dst + ".expire_tmp"
                shutil.rmtree(tmp, ignore_errors=True)
                merged.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(dst, ignore_errors=True)
                os.rename(tmp, dst)
                for d in src_dirs:
                    shutil.rmtree(d, ignore_errors=True)
            # df/stats are untouched, so the pointer's summary still holds
            pointer["runs"] = [base_id] + [
                r for r in pointer.get("runs", []) if r not in old
            ]
            _bm25_commit_pointer(index_dir, pointer)
            bm25_merged = True

    return {
        "expired": True,
        "base_run_id": base_id,
        "expired_runs": old,
        "kept_runs": runs[len(runs) - keep_last:],
        "tables_rewritten": rewritten,
        "bm25_merged": bm25_merged,
    }


def remove_orphan_files(
    out_dir: str,
    tables: tuple = ("extracted", "chunks"),
    min_age_sec: float = 86400.0,
    dry_run: bool = False,
) -> dict:
    """Delete data files no committed manifest references (Iceberg
    ``remove_orphan_files`` parity, enabled by the manifests' file
    lists).

    Orphans accumulate from crashed runs: the extracted/chunks appends
    landed but the manifest never committed, so the committed view
    (``read_extracted``/``read_chunks``) already ignores the rows — the
    bytes just sit there forever.  At 10^12 documents a few crashed
    backfills are real money.

    Safety rails, in order:

    - a table is vacuumed ONLY when every committed manifest carries a
      file list for it (a pre-feature or post-expiration base manifest
      means the reference set is unknowable → table skipped, reported),
    - ``min_age_sec`` grace period (Iceberg's 3-day default scaled
      down): a CONCURRENT in-flight run's fresh files are not yet
      manifested and must not be deleted — age is the same guard
      Iceberg uses, because the writer's identity is unknowable from
      the filesystem,
    - ``dry_run`` reports without deleting.
    """
    import time as _time

    from .pipeline import completed_run_ids

    manifest_dir = os.path.join(out_dir, "manifest")
    done = completed_run_ids(out_dir)
    now = _time.time()
    report: dict = {"tables": {}, "deleted": 0, "bytes_reclaimed": 0}
    import json as _json

    manifests = []
    for rid in done:
        with open(os.path.join(manifest_dir, f"run_{rid}.json")) as fh:
            manifests.append(_json.load(fh))
    for table in tables:
        tdir = os.path.join(out_dir, table)
        if not os.path.isdir(tdir):
            report["tables"][table] = {"skipped": "missing"}
            continue
        lists = [(m.get("files") or {}).get(table) for m in manifests]
        if any(entry is None for entry in lists):
            report["tables"][table] = {"skipped": "incomplete_file_lists"}
            continue
        referenced = {e["path"] for fl in lists for e in fl}
        removed, freed, young = [], 0, 0
        for name in sorted(os.listdir(tdir)):
            if not name.endswith(".parquet") or name in referenced:
                continue
            path = os.path.join(tdir, name)
            if now - os.path.getmtime(path) < min_age_sec:
                young += 1
                continue
            size = os.path.getsize(path)
            if not dry_run:
                os.remove(path)
            removed.append(name)
            freed += size
        report["tables"][table] = {
            "orphans_removed": len(removed),
            "bytes": freed,
            "skipped_young": young,
            "referenced": len(referenced),
        }
        report["deleted"] += len(removed)
        report["bytes_reclaimed"] += freed
    report["dry_run"] = dry_run
    return report


# ----------------------------------------------------------- snapshot refs

def _refs_path(out_dir: str) -> str:
    return os.path.join(out_dir, "refs.json")


def list_refs(out_dir: str) -> dict:
    """All named refs: {name: {"run_id", "type", "created_at",
    "updated_at"}}.  Missing or torn file reads as no refs."""
    import json

    try:
        with open(_refs_path(out_dir)) as fh:
            refs = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}
    return refs if isinstance(refs, dict) else {}


def set_ref(
    out_dir: str,
    name: str,
    run_id: str,
    kind: str = "tag",
    force: bool = False,
) -> dict:
    """Name a committed snapshot — Iceberg refs for the parquet
    stand-in.  ``kind="tag"`` is immutable (re-pointing raises unless
    ``force``): audit markers like ``eval-2026-08``.  ``kind="branch"``
    is movable: a deployment pointer like ``prod`` that fast-forwards
    run to run.  The target must be a COMMITTED run id (manifest
    present) at set time; the write is tmp + one atomic rename, so
    readers only ever see a fully-committed refs table.

    Why this matters at 10^12 docs: "train against exactly the corpus
    eval saw" is a ref resolve, not a copied table.
    """
    import json
    import time

    from .pipeline import completed_run_ids

    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be 'tag' or 'branch', got {kind!r}")
    done = completed_run_ids(out_dir)
    if run_id not in done:
        raise ValueError(f"run {run_id!r} is not a committed snapshot")
    refs = list_refs(out_dir)
    prev = refs.get(name)
    if prev is not None:
        if prev.get("type") == "tag" and not force:
            raise ValueError(
                f"tag {name!r} already points at {prev['run_id']!r}; "
                "tags are immutable (use force=True to retarget)"
            )
    now = time.time()
    refs[name] = {
        "run_id": run_id,
        "type": kind,
        "created_at": prev["created_at"] if prev else now,
        "updated_at": now,
    }
    path = _refs_path(out_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(refs, fh, indent=2)
    os.rename(tmp, path)  # the single commit point
    return refs[name]


def resolve_ref(out_dir: str, name: str) -> str:
    """Ref name -> run id.  Raises if the ref doesn't exist or its
    target snapshot is no longer committed (expired lineage) — a stale
    ref must fail loudly, not silently read a different state."""
    from .pipeline import completed_run_ids

    refs = list_refs(out_dir)
    if name not in refs:
        raise ValueError(f"no ref {name!r} in {out_dir}")
    run_id = refs[name]["run_id"]
    if run_id not in completed_run_ids(out_dir):
        raise ValueError(
            f"ref {name!r} points at expired/uncommitted run {run_id!r}"
        )
    return run_id


def drop_ref(out_dir: str, name: str) -> None:
    """Remove a ref (atomic rewrite).  Unknown names raise."""
    import json

    refs = list_refs(out_dir)
    if name not in refs:
        raise ValueError(f"no ref {name!r} in {out_dir}")
    del refs[name]
    path = _refs_path(out_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(refs, fh, indent=2)
    os.rename(tmp, path)


# ------------------------------------------------- BM25 delete purging

def purge_bm25_deletes(spark: SparkSession, out_dir: str) -> dict:
    """Physically remove taken-down documents from the persisted BM25
    index — the segment-merge half of the Lucene deletes model: until
    this runs, ``bm25_query_index`` masks deleted urls at query time
    (merge-on-read) but the postings rows and the df/doclen/stats
    snapshot still count them.  After the purge, the index is
    bit-equivalent to one built from scratch on the surviving corpus
    (chunk ids are deterministic functions of the url, so the
    equivalence is testable, and tested).

    Steps, crash-safe in commit order:

    1. deleted chunk ids = doclen ⋉ committed delete urls (broadcast —
       doclen carries urls precisely so this needs no chunks scan);
    2. every per-run postings/doclen delta dir is rewritten filtered,
       each swapped in with the compaction module's two-rename window;
    3. df/stats are recomputed IN FULL from the retained postings into
       new snapshot dirs, and their summary scalars with them;
    4. the pointer swaps atomically (``_current.json``) — readers see
       the old consistent snapshot until the swap, the new one after.

    Cost is one pass over the postings/doclen tables — run it with the
    regular compaction cadence, not per delete.
    """
    import json

    from pyspark.sql import functions as F

    from . import deletes as D
    from .operators import retrieval as R
    from .pipeline import (
        _bm25_commit_pointer,
        _bm25_current,
        _read_bm25_table,
        bm25_snapshot_summary,
    )

    index_dir = os.path.join(out_dir, "bm25_index")
    current = _bm25_current(index_dir)
    if current is None:
        return {"purged": False, "reason": "no committed index"}
    dels = D.deleted_urls(spark, out_dir)
    if dels is None:
        return {"purged": False, "reason": "no deletes"}
    # the declared doclen schema reads a missing url column as null, so
    # only an inferred schema can tell a pre-url index apart
    if "url" not in spark.read.parquet(os.path.join(index_dir, "doclen")).columns:
        raise ValueError(
            "this BM25 index predates url-carrying doclen deltas; "
            "rebuild it (build_bm25_index on a fresh index_dir) before "
            "purging deletes"
        )
    dead = (
        _read_bm25_table(spark, index_dir, "doclen")
        .join(
            F.broadcast(dels.select("url").distinct()), "url", "left_semi"
        )
        .select("chunk_id")
        .persist()
    )
    n_dead = dead.count()
    if n_dead == 0:
        dead.unpersist()
        return {"purged": False, "reason": "no indexed chunks deleted"}

    def rewrite(table: str) -> None:
        table_dir = os.path.join(index_dir, table)
        for name in sorted(os.listdir(table_dir)):
            if not name.startswith("run_id="):
                continue
            part = os.path.join(table_dir, name)
            kept = _read_bm25_table(
                spark, index_dir, table, os.path.join(table, name)
            ).join(dead, "chunk_id", "left_anti")
            tmp, old = part + ".purge_tmp", part + ".purge_old"
            kept.write.mode("overwrite").parquet(tmp)
            os.rename(part, old)
            os.rename(tmp, part)  # same two-rename window as compaction
            shutil.rmtree(old)

    rewrite("postings")
    rewrite("doclen")
    committed_runs = current.get("runs")
    post = _read_bm25_table(spark, index_dir, "postings")
    dl = _read_bm25_table(spark, index_dir, "doclen")
    if committed_runs is not None:
        post = post.filter(F.col("run_id").isin(committed_runs))
        dl = dl.filter(F.col("run_id").isin(committed_runs))
    df_new, stats_new = R.bm25_rollup(post, dl, "chunk_id")
    df_name = f"df_purge_{current.get('run_id', 'x')}_{n_dead}"
    stats_name = f"stats_purge_{current.get('run_id', 'x')}_{n_dead}"
    df_new.write.mode("overwrite").parquet(os.path.join(index_dir, df_name))
    stats_new.write.mode("overwrite").parquet(
        os.path.join(index_dir, stats_name)
    )
    pointer = dict(current)
    pointer["df"] = df_name
    pointer["stats"] = stats_name
    pointer["summary"] = bm25_snapshot_summary(spark, index_dir, df_name, stats_name)
    _bm25_commit_pointer(index_dir, pointer)
    dead.unpersist()
    return {"purged": True, "n_dead_chunks": n_dead, "pointer": pointer}


def plan_next_run(
    spark: SparkSession,
    out_dir: str,
    *,
    run_id: str | None = None,
    current_width: int | None = None,
    target_skew: float = 1.5,
    max_width_factor: int = 4,
) -> dict:
    """Plan the NEXT run's parallelism from the LAST run's committed
    per-partition lineage metrics — the operational feedback loop a
    10^12-document pipeline runs between batches: the metrics table
    carries REAL per-partition extraction timings (pipeline.py's
    ``part_elapsed``), so straggler structure is measured, not guessed.

    Skew = max(elapsed) / mean(elapsed) over the run's partitions.  At
    or under ``target_skew`` the current width stands.  Above it, the
    plan scales width by the skew ratio (capped at
    ``max_width_factor``×): with uniform url-hash repartitioning the
    dominant skew source is content-length variance, and more, smaller
    partitions bound the tail a single heavy partition adds.  The
    report also flags parse-failure concentration (one partition
    carrying > half the failures — a poison-input signature worth
    quarantining BEFORE rescaling).

    Driver-side by design: the metrics table has one row per partition
    per run — thousands of rows at production scale, never data-sized.
    Returns {run_id, n_partitions, skew, mean_sec, max_sec,
    recommended_width, failure_concentrated, reason}.
    """
    import os

    from pyspark.sql import functions as F

    path = os.path.join(out_dir, "metrics")
    m = spark.read.parquet(path)
    if run_id is None:
        # the LAST run means the most recently COMMITTED one: run ids
        # are random uuid4 hex, so max(run_id) would pick the
        # lexicographically-largest (an effectively random past run) —
        # the manifest's committed_at order is the real commit clock
        from .pipeline import completed_run_ids

        committed = completed_run_ids(out_dir)
        if committed:
            run_id = committed[-1]
        else:  # metrics without manifests (legacy/partial layout)
            run_id = m.agg(F.max("run_id").alias("r")).collect()[0]["r"]
    rows = m.filter(F.col("run_id") == run_id).collect()
    if not rows:
        raise ValueError(f"no metrics rows for run_id {run_id!r}")
    elapsed = [float(r["elapsed_sec"] or 0.0) for r in rows]
    fails = [int(r["n_parse_failures"] or 0) for r in rows]
    n = len(rows)
    mean_sec = sum(elapsed) / n
    max_sec = max(elapsed)
    skew = (max_sec / mean_sec) if mean_sec > 0 else 1.0
    width = current_width if current_width is not None else n
    total_fail = sum(fails)
    failure_concentrated = total_fail > 0 and max(fails) * 2 > total_fail
    if skew <= target_skew:
        rec = width
        reason = (
            f"skew {skew:.2f} <= target {target_skew}: width stands"
        )
    else:
        factor = min(float(max_width_factor), skew)
        rec = int(width * factor + 0.5)
        reason = (
            f"skew {skew:.2f} > target {target_skew}: scale width "
            f"x{factor:.2f} so the heaviest partition's content "
            f"spreads over more tasks"
        )
    if failure_concentrated:
        reason += (
            "; parse failures concentrate in one partition — inspect "
            "that input slice before trusting the rescale"
        )
    return {
        "run_id": run_id,
        "n_partitions": n,
        "skew": round(skew, 3),
        "mean_sec": round(mean_sec, 4),
        "max_sec": round(max_sec, 4),
        "recommended_width": rec,
        "failure_concentrated": failure_concentrated,
        "reason": reason,
    }
