"""The batch extraction pipeline (the north-rule job).

``pages (url, warc_ts, html, text, lang)``
  → validate (size cap / empty gates — P1..P3)
  → resume anti-join against committed doc_hashes (S18 checkpoint/resume)
  → versioning (W4/W5) + audit rows (J5) on a NARROW pre-extraction
    projection (url, warc_ts, sha2(html)) — extracted text never shuffles
  → uniform repartition on xxhash64(url) (skew-free under Zipf hosts)
  → extract via a vectorized Arrow stage (mapInPandas) that also stamps
    per-partition wall time → per-partition metrics are REAL timings
  → chunk + embed in one Arrow-native pass (mapInArrow, zero-copy
    embedding buffers; C2/E1/W6, total_chunks stamped in-stage)
  → parquet sinks carrying ``url_bucket = pmod(xxhash64(url), N)`` as a
    column (the Iceberg ``bucket(N, url_hash)`` key; the catalog's
    partition transform owns physical layout in production — local
    dynamic-partition writes measured 2x the python stage for nothing)
  → per-partition metrics table + run-level lineage manifest.

Scale notes (100 TB / 1000 executors):
- the resume anti-join ships only the (small) distinct-hash side through
  a shuffle; at production scale the committed-hash side is a bucketed
  Iceberg table so the join co-locates without a shuffle,
- doc_hash is computed with the built-in ``sha2`` (JVM, whole-stage
  codegen) *before* the Python stage, so resume skips never pay the
  Arrow round trip and versioning windows touch only metadata columns,
- the extract stage reads only (url, warc_ts, html, lang) — the `text`
  hint column is pruned at the parquet scan,
- chunking reads the extracted parquet back with only the columns it
  needs (columnar projection) instead of caching 100 TB of text,
- AQE handles residual skew; the salt column spreads any single hot
  host across ``n_salts`` tasks for host-keyed aggregations,
- shuffle/spill dirs must sit on fast local disks (spark.local.dir):
  measured here, a slow shared /tmp silently capped high-parallelism
  stages while hiding behind long tasks at low parallelism.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import zonemaps
from .core import oracle
from .operators import retrieval as R
from .udfs import chunk_embed, plain_chunker, routed_chunker, sentence_chunker

MAX_PAYLOAD_BYTES = oracle.MAX_PAYLOAD_BYTES
DEFAULT_BUCKETS = 16
DEFAULT_SALTS = 8

_EXTRACT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
        T.StructField("url_bucket", T.IntegerType()),
        T.StructField("version", T.IntegerType()),
        T.StructField("is_active", T.BooleanType()),
        T.StructField("doc_hash", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("engine", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_length", T.IntegerType()),
        T.StructField("quality_score", T.DoubleType()),
        T.StructField("language", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("n_headings", T.IntegerType()),
        T.StructField("n_lists", T.IntegerType()),
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("n_paragraphs", T.IntegerType()),
        T.StructField("encoding", T.StringType()),
        T.StructField("encoding_source", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("part_elapsed", T.DoubleType()),
    ]
)


def _extract_partitions(iterator):
    """mapInPandas stage: per-Arrow-batch extraction with partition timing.

    Stamps every row with the task's partition id and the cumulative
    in-Python wall time, so per-partition docs/sec in the metrics table
    is a measured value, not an estimate.
    """
    from pyspark import TaskContext

    part_id = TaskContext.get().partitionId() if TaskContext.get() else -1
    elapsed = 0.0
    for batch in iterator:
        t0 = time.monotonic()
        rows = {name: [] for name in (
            "doc_hash", "doc_id", "mime", "engine", "text", "text_length",
            "quality_score", "language", "error",
            "n_headings", "n_lists", "n_tables", "n_paragraphs",
            "encoding", "encoding_source",
        )}
        for payload, hint in zip(batch["html"], batch["lang"]):
            r = oracle.process_document(payload, hint)
            rows["doc_hash"].append(r.doc_hash)
            rows["doc_id"].append(r.doc_id)
            rows["mime"].append(r.mime)
            rows["engine"].append(r.engine)
            rows["text"].append(r.text)
            rows["text_length"].append(r.text_length)
            rows["quality_score"].append(r.quality_score)
            rows["language"].append(r.language)
            rows["error"].append(r.error)
            rows["n_headings"].append(r.artifacts.get("headings_count", 0))
            rows["n_lists"].append(r.artifacts.get("lists_count", 0))
            rows["n_tables"].append(r.artifacts.get("tables_count", 0))
            rows["n_paragraphs"].append(r.artifacts.get("paragraphs_count", 0))
            rows["encoding"].append(r.artifacts.get("encoding", ""))
            rows["encoding_source"].append(r.artifacts.get("encoding_source", ""))
        elapsed += time.monotonic() - t0
        out = pd.DataFrame(rows)
        out.insert(0, "url", batch["url"].values)
        out.insert(1, "warc_ts", batch["warc_ts"].values)
        out.insert(2, "host", batch["host"].values)
        out.insert(3, "url_bucket", batch["url_bucket"].values)
        out.insert(4, "version", batch["version"].values)
        out.insert(5, "is_active", batch["is_active"].values)
        out["part_id"] = part_id
        out["part_elapsed"] = elapsed
        yield out


def prepare_pages(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                  n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Validation gates + distribution columns (all JVM-side).

    - 100 MB size cap (docling_service.py:38) — P1,
    - ``url_bucket = pmod(xxhash64(url), n_buckets)`` — the Iceberg
      ``bucket(N, url_hash)`` layout,
    - ``salt = pmod(xxhash64(url, warc_ts), n_salts)`` — spreads a hot
      host across tasks for host-keyed work (north rule),
    - ``doc_hash = sha2(html, 256)`` computed JVM-side for the resume
      anti-join (identical to hashlib.sha256 hex in the Python stage).
    """
    return (
        pages
        .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withColumn("url_bucket",
                    F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
        .withColumn("salt",
                    F.pmod(F.xxhash64("url", "warc_ts"), F.lit(n_salts)).cast("int"))
        .withColumn("payload_bytes", F.octet_length("html"))
        .withColumn(
            "size_gate_error",
            F.when(F.col("payload_bytes") > F.lit(MAX_PAYLOAD_BYTES),
                   F.lit("file_too_large")),
        )
        .withColumn("doc_hash_pre", F.lower(F.sha2(F.col("html"), 256)))
    )


# S2: profile → allowed-extension sets (ingest_folder.py:252-262) and the
# ignore-dir prune list (:270-271), re-expressed as Catalyst filters over
# the url column — pushdown-friendly, no Python.
PROFILE_EXTENSIONS: dict[str, list[str]] = {
    "codebase": [".py", ".js", ".jsx", ".ts", ".tsx", ".md", ".json",
                 ".yml", ".yaml", ".html", ".css", ".sql"],
    "documents": [".pdf", ".docx", ".txt", ".md"],
    "default": [".pdf", ".docx", ".txt", ".md", ".py", ".js"],
}
_IGNORE_DIR_RE = r"/(\.git|__pycache__|node_modules|venv|\.venv|dist|build)/"


def scan_profile_filter(
    pages: DataFrame,
    profile: str = "default",
    allowed_extensions: list[str] | None = None,
    url_col: str = "url",
) -> DataFrame:
    """S2 profile-based scan: keep pages whose url has an allowed
    extension and no ignored directory segment (ingest_folder.py:
    252-280).  Explicit ``allowed_extensions`` override the profile,
    exactly like the request parameter in the reference."""
    exts = [
        e.lower() for e in (
            allowed_extensions
            or PROFILE_EXTENSIONS.get(profile, PROFILE_EXTENSIONS["default"])
        )
    ]
    path = F.split(F.col(url_col), r"[?#]")[0]
    ext = F.lower(F.regexp_extract(path, r"(\.[A-Za-z0-9]{1,8})$", 1))
    return pages.filter(ext.isin(exts) & ~path.rlike(_IGNORE_DIR_RE))


def narrow_versioning(prepared: DataFrame, policy: str = "VERSION") -> DataFrame:
    """W4/W5 computed on a NARROW pre-extraction projection.

    ``doc_hash_pre = sha2(html)`` exists before the Python stage, so the
    versioning window runs over just (url, warc_ts, doc_hash_pre) — a
    few MB per million rows — instead of shuffling extracted text.  The
    result joins back to the wide rows by url.  At warehouse scale this
    is the metadata-only-window pattern: the window job scans 3 pruned
    columns; the join co-locates for free when both sides are bucketed
    by url (Iceberg layout), and is a broadcast at test scale.
    """
    w_ver = Window.partitionBy("doc_hash_pre").orderBy("warc_ts", "url")
    w_all = Window.partitionBy("doc_hash_pre")
    out = (
        prepared.select("url", "warc_ts", "doc_hash_pre")
        .withColumn("version", F.row_number().over(w_ver))
        .withColumn("is_active", F.col("version") == F.max("version").over(w_all))
        .select("url", "version", "is_active")
    )
    if policy == "SKIP":
        out = out.filter(F.col("version") == 1)
    return out


def audit_log(extracted: DataFrame) -> DataFrame:
    """Dedup audit rows: one per non-first version (J5 shape,
    models.py:389-408): duplicate url + hash + the original url."""
    w_ver = Window.partitionBy("doc_hash").orderBy("warc_ts", "url")
    ranked = extracted.withColumn("version", F.row_number().over(w_ver))
    originals = (
        ranked.filter(F.col("version") == 1)
        .select(F.col("doc_hash"), F.col("url").alias("original_url"))
    )
    return (
        ranked.filter(F.col("version") > 1)
        .select("doc_hash", F.col("url").alias("duplicate_url"),
                F.col("warc_ts").alias("detection_ts"),
                F.lit("VERSIONED").alias("action"))
        .join(F.broadcast(originals), "doc_hash", "left")
    )


def run_parent_child(
    spark: SparkSession,
    extracted_path: str,
    out_dir: str,
    child_size: int = 200,
    child_overlap: int = 20,
    embed_dim: int = 64,
) -> dict:
    """C6 parent-child indexing over an extracted table.

    Mirrors indexing_service.py:373-506: parent = whole doc with id
    ``parent_<sha16(text)>`` (:397), children = sentence chunks (size
    200 / overlap 20 — :409-416) carrying ``parent_doc_id``.  Retrieval
    then resolves children → best-score-per-parent → parents table
    (J4, ``operators.retrieval.parent_resolution``).
    """
    ext = spark.read.parquet(extracted_path)
    good = (
        ext.filter(F.col("error").isNull() & (F.col("text_length") > 0)
                   & F.col("is_active"))
        .select(
            "url", "url_bucket", "doc_id",
            F.concat(F.lit("parent_"),
                     F.substring(F.sha2(F.col("text"), 256), 1, 16)).alias("parent_doc_id"),
            "text",
        )
    )
    parents = good.select(
        "parent_doc_id", "url", "url_bucket", F.col("text").alias("content")
    )
    parents_path = os.path.join(out_dir, "parents")
    parents.write.mode("overwrite").parquet(parents_path)

    children = chunk_embed(
        good, sentence_chunker(child_size, child_overlap), embed_dim
    ).select(
        "chunk_id", "parent_doc_id", "url", "url_bucket", "chunk_index",
        "text", "char_start", "char_end", "embedding",
    )
    children_path = os.path.join(out_dir, "children")
    children.write.mode("overwrite").parquet(children_path)

    return {
        "parents_path": parents_path,
        "children_path": children_path,
        "n_parents": spark.read.parquet(parents_path).count(),
        "n_children": spark.read.parquet(children_path).count(),
    }


def _read_parquet_or_none(spark: SparkSession, path: str):
    """Read a parquet dir, or None if it doesn't exist / has no files
    (a zero-row partitionBy write creates nothing readable).

    Only genuinely-absent tables map to None: PATH_NOT_FOUND and the
    empty-dir UNABLE_TO_INFER_SCHEMA.  Any other failure (e.g. a corrupt
    part file in a committed table) re-raises — swallowing it at the
    resume check would silently reprocess and append duplicates.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = getattr(exc, "getErrorClass", lambda: None)() or ""
        msg = str(exc)
        if (
            "PATH_NOT_FOUND" in cond
            or "UNABLE_TO_INFER_SCHEMA" in cond
            or "PATH_NOT_FOUND" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def completed_run_ids(out_dir: str, as_of_run: str | None = None) -> list[str]:
    """Run ids with a committed manifest — the pipeline's commit record —
    in COMMIT order (``committed_at`` in the manifest; file mtime for
    manifests predating that field).

    The manifest is written LAST, so a run id listed here has all of its
    sinks (extracted, chunks, audit, metrics) fully committed.  Resume
    and external readers key off this, never off mere file presence: a
    crash between the extracted append and the chunk write must NOT mark
    those docs done (they'd never be chunked).  In production this is an
    Iceberg multi-table transaction / snapshot commit; on plain parquet
    the manifest file plays the snapshot pointer.

    ``as_of_run`` truncates the history at that snapshot (inclusive) —
    Iceberg-style time travel over the append-only run partitions.
    Raises ValueError for an unknown (uncommitted) run id.
    """
    manifest_dir = os.path.join(out_dir, "manifest")
    if not os.path.isdir(manifest_dir):
        if as_of_run is not None:
            raise ValueError(f"no committed run {as_of_run!r} in {out_dir}")
        return []
    entries = []
    for name in sorted(os.listdir(manifest_dir)):
        if not (name.startswith("run_") and name.endswith(".json")):
            continue
        path = os.path.join(manifest_dir, name)
        try:
            with open(path) as fh:
                committed_at = json.load(fh).get("committed_at")
        except (OSError, json.JSONDecodeError):
            committed_at = None
        if committed_at is None:
            committed_at = os.path.getmtime(path)
        entries.append((committed_at, name[len("run_"):-len(".json")]))
    entries.sort()
    ids = [rid for _, rid in entries]
    if as_of_run is not None:
        if as_of_run not in ids:
            raise ValueError(f"no committed run {as_of_run!r} in {out_dir}")
        ids = ids[: ids.index(as_of_run) + 1]
    return ids


def _read_committed(spark, out_dir, table, as_of_run, where):
    """Shared committed-view read with manifest-level file pruning.

    The manifests' per-run file lists (zonemaps.py) let the committed
    view read ONLY the committed files — orphans from crashed runs are
    never opened, time travel reads exactly the snapshot's files, and a
    ``where`` on a stat column drops files whose [min, max] cannot
    match.  Falls back to the full-dir read whenever the lists cannot
    prove completeness; the run_id gate and the real ``where`` filter
    are re-applied on the frame either way, so pruning can only cost
    speed, never change results."""
    from . import schema_evolution as SE

    done = completed_run_ids(out_dir, as_of_run=as_of_run)
    # schema evolution is table-level metadata: every snapshot —
    # including time travel into pre-evolution history — presents the
    # CURRENT schema (the Iceberg rule).  Zone-map pruning happens on
    # PHYSICAL column names, so current-schema predicates are mapped
    # back through the rename chain first.
    schema_log = SE.read_schema_log(out_dir, table)
    plan = zonemaps.plan_scan(
        out_dir,
        table,
        done,
        predicates=SE.physical_predicates(where, schema_log),
    )
    df = None
    if plan.paths:
        try:
            df = spark.read.parquet(*plan.paths)
        except Exception:
            df = None  # raced a rewrite — fall back below
    if df is None:
        # fallback: pre-feature manifests, rewritten table, or an
        # all-pruned/empty selection (full lazy read keeps the schema;
        # parquet row-group stats still prune at scan time)
        df = _read_parquet_or_none(spark, os.path.join(out_dir, table))
        if df is None:
            return None
    df = df.filter(F.col("run_id").isin(done))
    if schema_log:
        df = SE.apply_to_frame(df, schema_log)
    if where:
        # current-schema names — applied AFTER evolution so predicates
        # are written against the schema the caller actually sees
        df = df.filter(zonemaps.where_expr(where))
    return df


def _resolve_as_of(out_dir, as_of_run, as_of_ref):
    """Named-ref resolution for the committed readers: ``as_of_ref``
    (an Iceberg-style tag/branch from ``maintenance.set_ref``) resolves
    to its run id; passing both pins is ambiguous and raises."""
    if as_of_ref is None:
        return as_of_run
    if as_of_run is not None:
        raise ValueError("pass as_of_run OR as_of_ref, not both")
    from . import maintenance as M

    return M.resolve_ref(out_dir, as_of_ref)


def read_extracted(
    spark: SparkSession,
    out_dir: str,
    as_of_run: str | None = None,
    where: list[tuple] | None = None,
    apply_deletes: bool = True,
    as_of_ref: str | None = None,
):
    """The committed view of the extracted table: rows whose run has a
    manifest.  Orphan rows from a crashed run (appended but never
    chunked/manifested) are invisible here and get reprocessed by the
    next run's resume anti-join.  ``as_of_run`` time-travels to the
    table state as of that snapshot (runs are append-only, so the state
    is exactly the union of runs committed up to it).  ``where`` is a
    list of ``(column, op, literal)`` conjuncts (op in ==/</<=/>/>=):
    applied as a real filter AND used to prune whole files against the
    manifest zone maps before any file is opened.

    ``apply_deletes`` (default on) masks urls named by committed
    equality-delete files (deletes.py) with a broadcast anti-join —
    merge-on-read.  Deliberately retroactive across time travel: a
    takedown must hide the url in EVERY snapshot, not just the ones
    after it.  With no delete file committed the plan is untouched."""
    as_of_run = _resolve_as_of(out_dir, as_of_run, as_of_ref)
    df = _read_committed(spark, out_dir, "extracted", as_of_run, where)
    if apply_deletes and df is not None:
        from . import deletes as D

        df = D.apply_merge_on_read(df, D.deleted_urls(spark, out_dir))
    return df


def read_chunks(
    spark: SparkSession,
    out_dir: str,
    as_of_run: str | None = None,
    where: list[tuple] | None = None,
    apply_deletes: bool = True,
    as_of_ref: str | None = None,
):
    """Committed view of the chunks table (same manifest gating + time
    travel + zone-map file pruning + merge-on-read delete masking as
    ``read_extracted``; ``as_of_ref`` reads at a named tag/branch)."""
    as_of_run = _resolve_as_of(out_dir, as_of_run, as_of_ref)
    df = _read_committed(spark, out_dir, "chunks", as_of_run, where)
    if apply_deletes and df is not None:
        from . import deletes as D

        df = D.apply_merge_on_read(df, D.deleted_urls(spark, out_dir))
    return df


# ------------------------------------------------------ BM25 index sink

def build_bm25_index(
    spark: SparkSession, out_dir: str, run_id: str, commit: bool = True
) -> dict:
    """S15/A7: persist the BM25 index tables, maintained incrementally.

    Mirrors bm25_index.py:94-176, which rebuilds postings/df in full on
    every index change — here the maintenance is incremental, the way a
    warehouse does it:

    - ``postings(chunk_id, term, tf)`` and ``doclen(chunk_id, dl)``:
      append-only deltas per run (chunk ids never repeat across runs
      thanks to the resume anti-join, so append IS the merge),
    - ``df(term, doc_freq)`` and corpus stats (n_docs, sum_dl): additive
      rollup — previous snapshot + new deltas, written as a new snapshot
      directory and exposed by atomically swapping a pointer file (the
      plain-parquet stand-in for Iceberg's snapshot commit /
      ``MERGE INTO``).  Readers never see a partial snapshot.
    - the pointer also carries the snapshot's ``summary`` scalars
      (``bm25_snapshot_summary``: n_docs, sum_dl, avg_idf), the way an
      Iceberg snapshot carries its summary map, so a probe plans
      without reading the df/stats tables first.

    The PIPELINE MANIFEST is the single commit point (round-2 advice):
    the pointer records the exact ``runs`` it covers, the index only
    ever ingests runs that are manifested (or the in-flight ``run_id``,
    whose pointer swap ``run_pipeline`` defers until after its manifest
    write via ``commit=False`` + ``_bm25_commit_pointer``).  Crash
    anatomy: (a) die before the manifest → the run is resumed/redone
    under a new run_id and the orphan delta dirs are never referenced
    (reads are pointer-gated); (b) die between manifest and pointer
    swap → the run is manifested-but-unindexed, and the NEXT build call
    picks it up (todo = manifested ∪ {run_id} − pointer.runs).  Either
    way postings are counted exactly once.

    Cost per run is O(new chunks), never a re-scan of the corpus; the
    tiny df/stats tables are the only rewritten artifacts.
    """
    index_dir = os.path.join(out_dir, "bm25_index")
    current = _bm25_current(index_dir)
    pointer_runs: set[str] = set()
    if current is not None:
        pointer_runs = set(current.get("runs") or [current.get("run_id")])
        pointer_runs.discard(None)
    todo = sorted((set(completed_run_ids(out_dir)) | {run_id}) - pointer_runs)
    if not todo:
        # every eligible run already indexed — idempotent re-invocation
        return {"index_dir": index_dir, "pointer": current, "n_new_runs": 0}
    chunks = _read_parquet_or_none(spark, os.path.join(out_dir, "chunks"))
    if chunks is None:
        return {"index_dir": index_dir, "pointer": current, "n_new_runs": 0}
    for rid in todo:
        delta = chunks.filter(F.col("run_id") == F.lit(rid)).select(
            "chunk_id", "url", "text"
        )
        postings, doclen = R.bm25_tokenize(delta, "chunk_id", "text")
        # doclen carries the chunk's url so takedown masking
        # (bm25_query_index) and the physical purge
        # (maintenance.purge_bm25_deletes) never need a chunks scan —
        # one string column on the per-chunk table buys delete support
        # on the query path for a broadcast anti-join
        doclen = doclen.join(delta.select("chunk_id", "url"), "chunk_id")
        # per-run partition dirs written with overwrite: a retry after a
        # crash replaces its own delta instead of appending a duplicate
        # (run_id comes back as the partition-discovery column on read)
        postings.write.mode("overwrite").parquet(
            os.path.join(index_dir, "postings", f"run_id={rid}")
        )
        doclen.write.mode("overwrite").parquet(
            os.path.join(index_dir, "doclen", f"run_id={rid}")
        )

    # additive df/stats rollup from the deltas just written
    new_runs = F.col("run_id").isin(todo)
    df_delta, dl_delta = R.bm25_rollup(
        _read_bm25_table(spark, index_dir, "postings").filter(new_runs),
        _read_bm25_table(spark, index_dir, "doclen").filter(new_runs),
        "chunk_id",
    )
    if current is not None:
        prev_df = _read_bm25_table(spark, index_dir, "df", current["df"])
        df_new = (
            prev_df.unionByName(df_delta)
            .groupBy("term")
            .agg(F.sum("doc_freq").alias("doc_freq"))
        )
        prev_stats = _read_bm25_table(spark, index_dir, "stats", current["stats"])
        stats_new = (
            prev_stats.unionByName(dl_delta)
            .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        )
    else:
        df_new, stats_new = df_delta, dl_delta
    df_name = f"df_{run_id}"
    stats_name = f"stats_{run_id}"
    df_new.write.mode("overwrite").parquet(os.path.join(index_dir, df_name))
    stats_new.write.mode("overwrite").parquet(os.path.join(index_dir, stats_name))
    pointer = {
        "df": df_name,
        "stats": stats_name,
        "run_id": run_id,
        "runs": sorted(pointer_runs | set(todo)),
        "summary": bm25_snapshot_summary(spark, index_dir, df_name, stats_name),
    }
    if commit:
        _bm25_commit_pointer(index_dir, pointer)
    return {"index_dir": index_dir, "pointer": pointer, "n_new_runs": len(todo)}


def _bm25_commit_pointer(index_dir: str, pointer: dict) -> None:
    """Atomically expose a staged BM25 snapshot.  ``run_pipeline`` calls
    this AFTER its manifest write so the manifest stays the single
    commit point (tmp-file + ``os.replace`` ≙ Iceberg pointer swap)."""
    tmp = os.path.join(index_dir, "_current.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(pointer, fh)
    os.replace(tmp, os.path.join(index_dir, "_current.json"))


def _bm25_current(index_dir: str) -> dict | None:
    path = os.path.join(index_dir, "_current.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


# The BM25 index tables are written only by this module and by
# maintenance.py, always with these columns.  Reading them with a
# declared schema skips the schema-inference job every inferred read
# costs, and keeps the ``run_id`` partition column a string however its
# values look (inference would type an all-digit run id as a number).
_BM25_SCHEMAS = {
    "postings": "chunk_id string, term string, tf bigint",
    "doclen": "chunk_id string, dl bigint, url string",
    "df": "term string, doc_freq bigint",
    "stats": "n_docs bigint, sum_dl bigint",
}


def _read_bm25_table(
    spark: SparkSession, index_dir: str, table: str, name: str | None = None
) -> DataFrame:
    """One BM25 index table under its declared schema.  ``name`` picks a
    snapshot dir (``df_<run>``/``stats_<run>``) or one partition dir
    (``postings/run_id=<run>``, data columns only); without it the
    per-run ``postings``/``doclen`` deltas read whole, ``run_id``
    included.  Indexes older than doclen's ``url`` column read it as
    null."""
    schema = _BM25_SCHEMAS[table]
    if name is None:
        name = table
        if table in ("postings", "doclen"):
            schema += ", run_id string"
    return spark.read.schema(schema).parquet(os.path.join(index_dir, name))


def bm25_snapshot_summary(
    spark: SparkSession, index_dir: str, df_name: str, stats_name: str
) -> dict:
    """The scalars a probe needs from a df/stats snapshot: ``n_docs``,
    ``sum_dl`` and ``avg_idf`` (the mean raw idf over the WHOLE
    vocabulary, for the epsilon floor).  Two single-row jobs; snapshot
    writers store the result in the pointer under ``"summary"``."""
    n_docs, sum_dl = _read_bm25_table(spark, index_dir, "stats", stats_name).collect()[0]
    avg_idf = (
        _read_bm25_table(spark, index_dir, "df", df_name)
        .agg(F.avg(R.bm25_idf_raw(F.lit(float(n_docs)), F.col("doc_freq"))))
        .collect()[0][0]
    )
    return {"n_docs": n_docs, "sum_dl": sum_dl, "avg_idf": avg_idf}


def bm25_query_index(
    spark: SparkSession,
    out_dir: str,
    query_terms: list[str],
    k1: float = R.BM25_K1,
    b: float = R.BM25_B,
    epsilon: float = R.BM25_EPSILON,
) -> DataFrame:
    """Probe the persisted BM25 index: postings filtered to the query
    terms (parquet predicate pushdown — never a corpus scan), idf from
    the vocabulary-sized df snapshot (broadcast), doclen equi-join.
    Scored by ``operators.retrieval.bm25_score_index`` itself; this
    function only supplies the committed tables and snapshot scalars.

    Postings/doclen reads are gated to the pointer's committed ``runs``
    (partition pruning on the run_id dir) so orphan deltas from a
    crashed, never-committed run are never scored, and scores always
    match the df/stats snapshot they were rolled into.

    Building the frame starts no Spark job: the snapshot scalars come
    from the pointer's ``summary`` and every table is read under its
    declared schema.  A pointer written before the summary existed
    falls back to computing it (``bm25_snapshot_summary``)."""
    index_dir = os.path.join(out_dir, "bm25_index")
    current = _bm25_current(index_dir)
    if current is None:
        raise FileNotFoundError(f"no committed BM25 snapshot in {index_dir}")
    committed_runs = current.get("runs")
    df_tbl = _read_bm25_table(spark, index_dir, "df", current["df"])
    # the snapshot scalars (n_docs, sum_dl; avg idf over the WHOLE
    # vocabulary for the epsilon floor) enter the plan as literals —
    # threading them through crossJoin(broadcast(...)) chains costs a
    # job per broadcast.  The pointer carries them, computed once when
    # the snapshot was written, so no probe re-aggregates the tables.
    summary = current.get("summary") or bm25_snapshot_summary(
        spark, index_dir, current["df"], current["stats"]
    )
    n_docs = summary["n_docs"]
    avgdl = float(summary["sum_dl"]) / float(n_docs)
    avg_idf = float(summary["avg_idf"])
    idf_raw = R.bm25_idf_raw(F.lit(float(n_docs)), F.col("doc_freq"))
    q = [t.lower() for t in query_terms]
    # idf needed only for the query terms — vocabulary-sized df table
    # never leaves the scan except through this filtered projection
    idf = df_tbl.filter(F.col("term").isin(q)).select(
        "term",
        R.bm25_idf_floor(idf_raw, F.lit(avg_idf), epsilon).alias("idf"),
        F.lit(avgdl).alias("avgdl"),
    )
    postings = _read_bm25_table(spark, index_dir, "postings")
    doclen = _read_bm25_table(spark, index_dir, "doclen")
    if committed_runs is not None:
        postings = postings.filter(F.col("run_id").isin(committed_runs))
        doclen = doclen.filter(F.col("run_id").isin(committed_runs))
    # merge-on-read takedown masking (Lucene live-docs semantics): the
    # doclen table carries each chunk's url, so deleted urls drop out
    # of the scoring join via one broadcast anti-join — the postings
    # rows and the df/avgdl STATS stay physically untouched (stale)
    # until maintenance.purge_bm25_deletes rewrites them, exactly like
    # deleted docs still counting in Lucene's collection stats until a
    # segment merge.  Indexes built before the url column read it as
    # null, which the anti-join keeps: they stay unmasked until rebuilt.
    from . import deletes as D

    doclen = D.apply_merge_on_read(doclen, D.deleted_urls(spark, out_dir))
    index = {"postings": postings, "doclen": doclen, "idf": idf}
    return R.bm25_score_index(index, "chunk_id", query_terms, k1, b)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    chunk_size: int = oracle.DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = oracle.DEFAULT_CHUNK_OVERLAP,
    embed_dim: int = 64,
    n_buckets: int = DEFAULT_BUCKETS,
    n_salts: int = DEFAULT_SALTS,
    policy: str = "VERSION",
    resume: bool = True,
    run_id: str | None = None,
    num_partitions: int | None = None,
    bm25_index: bool = False,
    routed_chunking: bool = False,
    auto_plan: bool = False,
) -> dict:
    """Run the end-to-end extraction job; returns the lineage manifest.

    ``bm25_index=True`` additionally maintains the persisted BM25
    postings/df tables incrementally (S15/A7; opt-in so the north-rule
    extraction throughput benchmark measures the extraction job alone).
    ``routed_chunking=True`` dispatches each doc through the data-type
    router (S13 → C5/C7/S11 chunkers + C9 profiles) instead of the
    uniform separator cascade; the chunks table then carries
    route/profile columns (use one mode per out_dir — the schemas
    differ).
    ``auto_plan=True`` closes the operational feedback loop: when
    ``num_partitions`` is not given explicitly, the run adopts the
    width ``maintenance.plan_next_run`` derives from the LAST committed
    run's per-partition timing lineage (measured straggler skew →
    capped width rescale), and the adopted plan is recorded in this
    run's manifest under ``"plan"``.  First runs (no metrics yet) fall
    back to the shuffle-partitions default.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.monotonic()
    _t = [t_start]
    stage_sec: dict = {}

    def _tick(label: str) -> None:
        now = time.monotonic()
        stage_sec[label] = round(
            stage_sec.get(label, 0.0) + (now - _t[0]), 3
        )
        _t[0] = now
    extracted_path = os.path.join(out_dir, "extracted")
    chunks_path = os.path.join(out_dir, "chunks")
    embeddings_path = os.path.join(out_dir, "embeddings")
    audit_path = os.path.join(out_dir, "dedup_audit")
    metrics_path = os.path.join(out_dir, "metrics")
    manifest_path = os.path.join(out_dir, "manifest")

    prepared = prepare_pages(pages, n_buckets, n_salts)

    # ---- checkpoint/resume: anti-join committed doc_hashes (S18) ----
    # counts are only materialized when resume accounting needs them;
    # otherwise n_input/n_todo come from the extracted files' footers
    # (one fewer pass over the input)
    n_skipped = 0
    n_input = None
    if resume and os.path.exists(extracted_path):
        # manifest-gated: only runs whose manifest committed count as
        # done — a crash after the extracted append but before the chunk
        # write leaves those rows orphaned (no manifest), so their docs
        # are reprocessed here instead of being lost un-chunked forever.
        # One count only (the pre-anti-join input); n_todo comes free
        # from the footers of the files this run appends, and n_skipped
        # is their difference (round-2: two counts = two input scans).
        committed = read_extracted(spark, out_dir)
        if committed is not None:
            n_input = prepared.count()
            seen = committed.select(F.col("doc_hash").alias("doc_hash_pre")).distinct()
            prepared = prepared.join(seen, "doc_hash_pre", "left_anti")
    _tick('input_count')

    # distribute by url hash: uniform task sizes regardless of host skew
    # (hash-partitioning on the low-cardinality (bucket, salt) pair would
    # leave only n_buckets*n_salts distinct keys → uneven partitions and
    # straggler tasks; url has full cardinality).  The bucket column still
    # drives the sink layout; salt remains for host-keyed aggregations.
    plan = None
    if auto_plan and num_partitions is None and os.path.exists(metrics_path):
        # adopt the width the last run's committed per-partition timing
        # lineage recommends (current_width defaults to that run's own
        # partition count inside plan_next_run — the width it ran at)
        from pyspark.errors import AnalysisException

        from . import maintenance as _maintenance

        try:
            plan = _maintenance.plan_next_run(spark, out_dir)
            num_partitions = int(plan["recommended_width"])
        except ValueError:
            plan = None  # metrics dir exists but holds no rows
        except AnalysisException:
            # metrics dir exists but holds no readable parquet (a
            # crashed first run): fall back to the default width
            # instead of failing the whole run
            plan = None
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if num_partitions == 0:
        # caller asserts the INPUT layout already distributes uniformly
        # (an Iceberg table bucketed by url-hash at write time, or a
        # many-file corpus with uniform file sizes): skip the pre-shuffle
        # and let the scan splits drive task layout.  Saves a full
        # input-sized shuffle (write + read of every html payload);
        # the wrong call on a skewed layout costs stragglers, which the
        # per-partition timing lineage (plan_next_run) will expose.
        distributed = prepared
    else:
        distributed = prepared.repartition(num_partitions, "url")

    # ---- versioning BEFORE extraction on narrow metadata columns ----
    # (W4/W5 need only sha2(html), already computed JVM-side; shuffling
    # the window over extracted text would move ~the whole corpus).
    # The narrow frame is persisted: it feeds both the version join and
    # the audit log, and costs one html scan for the sha2 either way.
    narrow = prepared.select("url", "warc_ts", "doc_hash_pre").persist()
    versions = narrow_versioning(narrow, policy)
    join_kind = "inner" if policy == "SKIP" else "left"
    distributed = distributed.join(F.broadcast(versions), "url", join_kind)

    # ---- extract (vectorized Arrow stage w/ real per-partition timing) ----
    extract_in = distributed.select("url", "warc_ts", "host", "url_bucket",
                                    "version", "is_active", "html", "lang")
    extracted = extract_in.mapInPandas(_extract_partitions, _EXTRACT_OUT_SCHEMA)
    extracted = extracted.withColumn("run_id", F.lit(run_id))
    # plain write with url_bucket as a data column: the dynamic-partition
    # writer (sort + per-task file-per-bucket) measured 2x the stage cost
    # locally; parquet row-group stats on url_bucket still prune reads,
    # and the production Iceberg table uses bucket(N, url_hash) layout
    # via its partition transform at write time.
    pre_extract_files = zonemaps.snapshot_files(extracted_path)
    (extracted
     .write.mode("append")
     .parquet(extracted_path))
    # footer-only stats for the files THIS run appended (Iceberg
    # collects the same bounds at write time); lands in the manifest so
    # reads prune at the metadata layer (zonemaps.py)
    extracted_file_stats = zonemaps.collect_file_stats(
        extracted_path,
        zonemaps.snapshot_files(extracted_path) - pre_extract_files,
        "extracted",
    )
    _tick('extract_write')

    # ---- dedup audit (reads back only the tiny columns it needs) ----
    if not pre_extract_files and not extracted_file_stats:
        # zero-row run (e.g. empty input or everything resumed-over)
        if n_input is None:
            n_input = prepared.count()
        manifest = {
            "run_id": run_id, "n_input": n_input, "n_skipped_resume": n_skipped,
            "n_processed": 0, "n_chunks": 0,
            "wall_sec": round(time.monotonic() - t_start, 3), "docs_per_sec": None,
            "chunk_size": chunk_size, "chunk_overlap": chunk_overlap,
            "embed_dim": embed_dim, "n_buckets": n_buckets, "n_salts": n_salts,
            "policy": policy,
            "committed_at": time.time(),
            "files": {"extracted": extracted_file_stats, "chunks": []},
        }
        os.makedirs(manifest_path, exist_ok=True)
        with open(os.path.join(manifest_path, f"run_{run_id}.json"), "w") as fh:
            json.dump(manifest, fh, indent=2)
        return manifest
    # this run's rows, read back from exactly the files it appended under
    # the schema it wrote them with (no listing of earlier runs' files,
    # no schema inference; no files reads as empty); the footers already
    # hold the row counts
    ext = spark.read.schema(extracted.schema).parquet(
        *(os.path.join(extracted_path, f["path"]) for f in extracted_file_stats)
    )
    n_todo = sum(f["rows"] for f in extracted_file_stats)
    if n_input is None:
        n_input = n_todo
    else:
        n_skipped = n_input - n_todo
    # audit rows from the NARROW pre-extraction frame — no re-read of the
    # wide extracted table.  Runs as a concurrent job: Spark schedules
    # concurrent jobs from one session, so this small job overlaps the
    # chunk stage instead of serializing ahead of it.  ThreadPoolExecutor
    # (not bare Thread): .result() re-raises worker exceptions so a
    # failed audit/embeddings write fails the run instead of silently
    # yielding a success manifest.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=2)

    def _audit_job() -> None:
        try:
            audit_log(
                narrow.select("url", "warc_ts", F.col("doc_hash_pre").alias("doc_hash"))
            ).write.mode("append").parquet(audit_path)
        finally:
            narrow.unpersist()

    audit_future = pool.submit(_audit_job)
    _tick('audit')

    # ---- chunk + embed in one Arrow-native pass over the good rows ----
    # chunk only THIS run's rows — prior runs' chunks are already committed
    # (exactly-once on resume); doc_hashes never span runs thanks to the
    # resume anti-join, so is_active is stable across runs.
    chunker = (routed_chunker() if routed_chunking
               else plain_chunker(chunk_size, chunk_overlap))
    good = (
        ext.filter(F.col("error").isNull() & (F.col("text_length") > 0))
        .filter(F.col("is_active"))
        .select("url", "url_bucket", "doc_id",
                *(["mime"] if routed_chunking else []), "text")
    )
    chunks = (
        chunk_embed(good, chunker, embed_dim)
        .withColumn("run_id", F.lit(run_id))
        .select(
            "chunk_id", "doc_id", "url", "url_bucket",
            *(f.name for f in chunker.doc_fields),
            "chunk_index", "total_chunks", "text", "char_start", "char_end",
            "embedding", "run_id",
        )
    )
    pre_chunk_files = zonemaps.snapshot_files(chunks_path)
    chunks.write.mode("append").parquet(chunks_path)
    chunks_file_stats = zonemaps.collect_file_stats(
        chunks_path,
        zonemaps.snapshot_files(chunks_path) - pre_chunk_files,
        "chunks",
    )
    _tick('chunk_write')

    # stage the index delta + snapshot now, but defer the pointer swap
    # to after the manifest write: the manifest is the ONE commit point
    # (a crash in between leaves a manifested-but-unindexed run that the
    # next build call recovers via its pointer-runs anti-join)
    bm25_staged = None
    if bm25_index:
        bm25_staged = build_bm25_index(spark, out_dir, run_id, commit=False)
        _tick('bm25_index')

    # embeddings view table: columnar projection of the chunks parquet —
    # reads only 2 columns, no recompute (FIXTURES.md §2).  Concurrent
    # with the metrics job below (independent inputs).  Gated to
    # committed runs + this run so orphan chunk rows from a crashed
    # un-manifested run never land in the view (round-2 advice).
    chunks_committed = None
    chunks_all = _read_parquet_or_none(spark, chunks_path)
    if chunks_all is not None:
        view_runs = completed_run_ids(out_dir) + [run_id]
        chunks_committed = chunks_all.filter(F.col("run_id").isin(view_runs))
    emb_future = None
    if chunks_committed is not None:
        def _emb_job() -> None:
            (chunks_committed
             .select("chunk_id", "embedding")
             .write.mode("overwrite").parquet(embeddings_path))

        emb_future = pool.submit(_emb_job)

    # ---- per-partition metrics (REAL timings from the extract stage) ----
    metrics = (
        ext.groupBy("part_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_parse_failures"),
            F.sum("text_length").alias("n_text_chars"),
            F.max("part_elapsed").alias("elapsed_sec"),
        )
        .withColumn("docs_per_sec",
                    F.when(F.col("elapsed_sec") > 0,
                           F.col("n_docs") / F.col("elapsed_sec")))
        .withColumn("run_id", F.lit(run_id))
    )
    metrics.write.mode("append").parquet(metrics_path)
    _tick('metrics')

    try:
        audit_future.result()  # re-raises on audit failure
        if emb_future is not None:
            emb_future.result()
    finally:
        pool.shutdown(wait=False)
    _tick('emb_rewrite')
    n_chunks = sum(f["rows"] for f in chunks_file_stats)
    _tick('final_count')
    wall = time.monotonic() - t_start
    manifest = {
        "run_id": run_id,
        "n_input": n_input,
        "n_skipped_resume": n_skipped,
        "n_processed": n_todo,
        "n_chunks": n_chunks,  # this run only (was cumulative — r1 verdict)
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_todo / wall, 2) if wall > 0 else None,
        "chunk_size": chunk_size,
        "chunk_overlap": chunk_overlap,
        "embed_dim": embed_dim,
        "n_buckets": n_buckets,
        "n_salts": n_salts,
        "policy": policy,
        # snapshot ordering for time travel (read_chunks(as_of_run=...));
        # run ids are content-derived hex, so filename order is NOT
        # commit order — this is
        "committed_at": time.time(),
        # Iceberg-style manifest file lists + per-file column bounds:
        # the committed view reads exactly these files (orphans from
        # crashed runs never open) and ``where`` predicates prune whole
        # files against the bounds before Spark lists anything
        "files": {
            "extracted": extracted_file_stats,
            "chunks": chunks_file_stats,
        },
        # the parallelism plan this run ADOPTED from the previous run's
        # lineage (auto_plan=True), or None — audit trail for the
        # operational feedback loop
        "plan": plan,
        # wall clock per stage, measured around each job — lets the bench decompose
        # scaling: the Arrow python stages vs JVM scan/write/commit
        "stage_sec": stage_sec,
    }
    os.makedirs(manifest_path, exist_ok=True)
    with open(os.path.join(manifest_path, f"run_{run_id}.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    if bm25_staged is not None and bm25_staged.get("n_new_runs"):
        _bm25_commit_pointer(bm25_staged["index_dir"], bm25_staged["pointer"])
    return manifest
