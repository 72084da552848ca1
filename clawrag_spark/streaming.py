"""Incremental ingestion via Structured Streaming.

The reference has NO streaming operators — ingestion is request-driven
batch with a task queue (SURVEY.md §2.12; grep over backend/src shows no
watermarks/windows/state).  The equivalent *incremental* semantics in
Spark is a ``readStream`` over the pages table with
``Trigger.AvailableNow``: each invocation processes exactly the files
not seen by the checkpoint, then stops — batch semantics, streaming
bookkeeping.  This replaces the reference's Docling JSON result cache
(docling_service.py:135-226) with engine-native exactly-once progress
tracking, complementing the snapshot anti-join resume in
``pipeline.py`` (S18).

Each micro-batch runs the same extract stage as the batch pipeline via
``foreachBatch`` — one code path for both modes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .pipeline import (
    _EXTRACT_OUT_SCHEMA,
    _extract_partitions,
    narrow_versioning,
    prepare_pages,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all currently-unseen page files, then stop.

    - source: file-stream over parquet (schema pinned — streaming
      requires it),
    - Trigger.AvailableNow: drains the backlog in rate-limited
      micro-batches and terminates (the batch-job-shaped streaming
      mode),
    - checkpoint: file-source offsets → exactly-once per input file
      across invocations,
    - sink: same bucketed parquet layout as the batch pipeline.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(pages_dir)

    extracted_path = os.path.join(out_dir, "extracted_stream")

    def process_batch(batch_df, batch_id: int) -> None:
        prepared = prepare_pages(batch_df)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        versions = narrow_versioning(prepared)
        distributed = (
            prepared.repartition(n_parts, "url")
            .join(F.broadcast(versions), "url", "left")
        )
        extract_in = distributed.select(
            "url", "warc_ts", "host", "url_bucket", "version", "is_active",
            "html", "lang"
        )
        extracted = extract_in.mapInPandas(_extract_partitions, _EXTRACT_OUT_SCHEMA)
        extracted = extracted.withColumn(
            "run_id", F.lit(f"stream_batch_{batch_id}")
        )
        (extracted.write.mode("append")
         .parquet(extracted_path))

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def windowed_host_rates(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
    checkpoint_dir: str | None = None,
) -> None:
    """Watermarked tumbling-window ingestion rates per host (§2.12 /
    A4-as-a-stream): crawl-time monitoring of docs and bytes per host
    per window, with late-data handling.

    - ``withWatermark(warc_ts, delay)``: rows later than the watermark
      are dropped; state for closed windows is evicted (bounded state at
      10^12-doc scale),
    - append output mode: a window row is emitted exactly once, when the
      watermark passes its end — the exactly-once rollup a downstream
      dashboard table wants,
    - Trigger.AvailableNow + checkpoint: incremental batch invocations.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_rates_checkpoint")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    rates = (
        stream.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withWatermark("warc_ts", watermark_delay)
        .groupBy(F.window("warc_ts", window_duration).alias("win"), F.col("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("html")).alias("n_bytes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host", "n_docs", "n_bytes",
        )
    )
    query = (
        rates.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "host_rates"))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def sessionize_hosts(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    gap_seconds: int = 3600,
    watermark_delay: str = "1 hour",
    checkpoint_dir: str | None = None,
) -> None:
    """Custom stateful operator via ``applyInPandasWithState``: per-host
    crawl *sessions* (bursts of fetches separated by ≥ ``gap_seconds``
    of silence) — the kind of operator Spark has no built-in for.

    State per host = (session_start, last_ts, n_docs); an event-time
    timeout fires when the watermark passes ``last_ts + gap``, emitting
    the completed session exactly once and clearing state.  Watermark
    bounds state size; sessions for quiet hosts close deterministically
    from event time, not wall clock.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_sess_checkpoint")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
        .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withWatermark("warc_ts", watermark_delay)
        .select("host", "warc_ts")
    )
    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: F811 — worker-side import

        (host,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame({
                "host": [host],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_docs": [n],
            })
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pdf["warc_ts"])
        if not ts_us:
            return
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_us[0], ts_us[0], 0
        closed = []
        for t in ts_us:
            if t - last_us > gap_us and n > 0:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame({
                "host": [host] * len(closed),
                "session_start": [pd.Timestamp(a, unit="us") for a, _, _ in closed],
                "session_end": [pd.Timestamp(b, unit="us") for _, b, _ in closed],
                "n_docs": [c for _, _, c in closed],
            })

    sessions = stream.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, session_start timestamp, session_end timestamp, "
            "n_docs long"
        ),
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    query = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "host_sessions"))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def incremental_index_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    embed_dim: int = 64,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming writer for the SAME persisted BM25 index the batch
    pipeline maintains: each micro-batch runs extract → chunk+embed →
    per-batch chunks delta → ``build_bm25_index`` snapshot commit, so
    ``bm25_query_index`` serves batch- and stream-built indexes
    identically (one index implementation, two writers).

    Exactly-once anatomy (foreachBatch is at-least-once; idempotence
    makes it exactly-once):
    - the batch's run id is derived from ``batch_id``, which Spark
      replays stably after a crash,
    - the chunks delta is written with OVERWRITE into its own
      ``run_id=`` partition dir — a replay rewrites the same rows
      instead of appending duplicates,
    - the index build ingests only runs absent from the snapshot
      pointer (``todo = {run_id} − pointer.runs``), so a replay after
      the pointer swap is a no-op and a replay before it rebuilds from
      the (consistent, overwritten) delta.
    """
    from .core import oracle as _oracle
    from .pipeline import _bm25_current, build_bm25_index
    from .udfs import chunk_embed, plain_chunker

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_index_checkpoint")
    reader = spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(pages_dir)
    chunker = plain_chunker(_oracle.DEFAULT_CHUNK_SIZE, _oracle.DEFAULT_CHUNK_OVERLAP)

    def process_batch(batch_df, batch_id: int) -> None:
        run_id = f"stream_b{batch_id:06d}"
        prepared = prepare_pages(batch_df)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        versions = narrow_versioning(prepared)
        distributed = (
            prepared.repartition(n_parts, "url")
            .join(F.broadcast(versions), "url", "left")
        )
        extracted = distributed.select(
            "url", "warc_ts", "host", "url_bucket", "version", "is_active",
            "html", "lang",
        ).mapInPandas(_extract_partitions, _EXTRACT_OUT_SCHEMA)
        good = extracted.filter(
            F.col("error").isNull() & (F.col("text_length") > 0)
        ).filter(F.col("is_active")).select("url", "url_bucket", "doc_id", "text")
        # Content-level exactly-once: chunk ids are content-addressed
        # (doc_id = sha256(text)), so the same body under two urls —
        # within a batch or across batches — would double-count in the
        # index's additive df/doclen rollup.  Keep one deterministic
        # representative per doc_id in the batch (min url), and none
        # that a pointer-committed run already indexed: the streaming
        # twin of the batch pipeline's dedup existence probe.  The
        # committed probe reads one column of the committed chunk runs
        # per batch — O(committed) here; the persisted-signature
        # artifact (`streaming_near_dedup`) is the sub-linear path when
        # the store outgrows a per-batch scan.
        from pyspark.sql import Window as _W

        rep = F.row_number().over(_W.partitionBy("doc_id").orderBy("url"))
        good = good.withColumn("__rep", rep).filter(F.col("__rep") == 1).drop("__rep")
        pointer = _bm25_current(os.path.join(out_dir, "bm25_index"))
        seen_runs = sorted(set(pointer.get("runs") or [])) if pointer else []
        if seen_runs:
            seen = (
                spark.read.parquet(os.path.join(out_dir, "chunks"))
                .filter(F.col("run_id").isin(seen_runs))
                .select("doc_id")
                .distinct()
            )
            good = good.join(seen, "doc_id", "left_anti")
        chunk_embed(good, chunker, embed_dim).write.mode("overwrite").parquet(
            os.path.join(out_dir, "chunks", f"run_id={run_id}")
        )
        build_bm25_index(spark, out_dir, run_id, commit=True)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def streaming_dedup(
    pages_stream,
    watermark: str = "1 hour",
    key_cols: tuple[str, ...] = ("doc_hash_pre",),
):
    """Exactly-once streaming exact-dedup: drop any page whose content
    hash was already seen within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes it, so state is bounded by (arrival rate
    × horizon) instead of growing with the full corpus — the streaming
    twin of the batch anti-join (J1/U4); durable corpus-level dedup
    stays with the manifest-gated batch resume (pipeline.py S18).

    Takes a streaming DataFrame of raw pages (url/warc_ts/html/...),
    stamps the same pre-extraction content hash the batch pipeline
    dedups on, and returns the deduplicated stream.
    """
    from .pipeline import prepare_pages

    hashed = prepare_pages(pages_stream)
    return hashed.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def incremental_curate(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    *,
    checkpoint_dir: str | None = None,
    min_chars: int = 100,
    max_top_bigram_frac: float = 0.12,
    dedup_watermark: str = "24 hours",
    benchmark=None,
    decontaminate_n: int = 8,
    mix_rates: dict[str, float] | None = None,
    mix_default_rate: float = 0.0,
    mix_salt: str = "mix",
) -> None:
    """Incremental counterpart of ``curation.curate_corpus``: drain the
    unseen page files, run the curation funnel on the delta, append the
    survivors — the continuously-fed variant of the batch funnel for a
    crawl that lands files all day.

    Stage mapping (batch funnel → incremental):
    - exact dedup → engine-native ``dropDuplicatesWithinWatermark`` on
      the content md5 BEFORE foreachBatch: per-key state is bounded by
      (arrival rate × watermark horizon) and carries across invocations
      through the checkpoint, so a re-crawled page dropped yesterday
      stays dropped today.  Dedup and the per-row quality gate commute
      (both are pure functions of the text), so running dedup first is
      result-identical to the batch stage order.
    - quality gate / decontamination / stratified mix → inside
      ``foreachBatch``, reusing the batch operators verbatim on each
      micro-batch (they are stateless per row, so batch ≡ incremental).
      ``benchmark`` is a static DataFrame — its shingle set broadcasts
      into every micro-batch join.
    - near-dedup connected components stays batch-only BY DESIGN:
      global iterative label propagation isn't expressible as bounded
      streaming state; run it as a periodic compaction over the
      accumulated output (the Lee-et-al. pipelines do the same).

    Sinks: ``curated_stream`` (survivor rows) and ``curation_metrics``
    (one row per micro-batch: batch id + per-stage survivor counts —
    the incremental funnel report).
    """
    from .operators import webtext as WT

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_curate_checkpoint")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    deduped = (
        stream.withColumn("text_md5", F.md5(F.col("text")))
        .withWatermark("warc_ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )

    curated_path = os.path.join(out_dir, "curated_stream")
    metrics_path = os.path.join(out_dir, "curation_metrics")

    def process_batch(batch_df, batch_id: int) -> None:
        n_in = batch_df.count()
        quality = batch_df.filter(
            (F.length("text") >= min_chars)
            & (WT.top_ngram_char_frac(F.col("text")) <= max_top_bigram_frac)
        )
        cached = [quality.persist()]
        current = cached[0]
        n_quality = current.count()
        n_decontaminated = n_quality
        if benchmark is not None:
            flagged = WT.decontaminate(
                current, benchmark, "url", "text", n=decontaminate_n
            ).select("url")
            current = current.join(flagged, "url", "left_anti").persist()
            cached.append(current)
            n_decontaminated = current.count()
        n_mix = n_decontaminated
        if mix_rates is not None:
            current = WT.stratified_sample(
                current, "lang", mix_rates, "url",
                salt=mix_salt, default_rate=mix_default_rate,
            )
            n_mix = current.count()
        (current.withColumn("batch_id", F.lit(batch_id).cast("long"))
         .write.mode("append").parquet(curated_path))
        (spark.createDataFrame(
            [(int(batch_id), n_in, n_quality, n_decontaminated, n_mix)],
            "batch_id long, n_after_dedup long, n_quality long, "
            "n_decontaminated long, n_mix long",
        ).write.mode("append").parquet(metrics_path))
        for frame in cached:
            frame.unpersist()

    query = (
        deduped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def streaming_decontaminate(
    spark: SparkSession,
    pages_dir: str,
    benchmark_dir: str,
    out_dir: str,
    *,
    checkpoint_dir: str | None = None,
    n: int = 8,
) -> None:
    """Streaming benchmark decontamination against an UPDATABLE
    benchmark set: drain unseen page files, flag every page sharing any
    ``n``-token shingle with the benchmark *as it exists at that
    micro-batch*, and append clean/flagged rows separately.

    Why re-read per batch: a stream-static join snapshots the static
    side's FILE LISTING when the query plans, so benchmark files that
    land mid-run (a new eval suite added to the blocklist) would be
    invisible until restart.  Re-building the benchmark frame inside
    ``foreachBatch`` re-lists the directory every micro-batch — the
    engine-sanctioned pattern for slowly-changing dimensions — and the
    checkpoint still gives exactly-once page processing, so growing the
    benchmark never reprocesses old pages (append-only semantics: pages
    already emitted as clean are NOT retracted; re-screen the
    accumulated output in batch when the benchmark grows
    retroactively — same compaction story as the near-dedup stage of
    ``incremental_curate``).

    Scale shape per micro-batch: benchmark shingle set is distinct'd
    and broadcast (benchmark suites are small next to a crawl);
    the page side is one scan + map-side join, one shuffle for the
    per-url hit count.

    Sinks under ``out_dir``: ``clean`` (rows with no overlap),
    ``flagged`` (url + n_hits), ``decontam_metrics`` (one row per
    micro-batch: batch id, rows in/clean/flagged, benchmark rows the
    batch screened against — the audit trail that shows WHICH benchmark
    snapshot each batch saw).
    """
    from .operators import webtext as WT

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_decontam_checkpoint")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    clean_path = os.path.join(out_dir, "clean")
    flagged_path = os.path.join(out_dir, "flagged")
    metrics_path = os.path.join(out_dir, "decontam_metrics")

    def process_batch(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_in = batch_df.count()
        bench = spark.read.parquet(benchmark_dir)  # re-list every batch
        n_bench = bench.count()
        flagged = WT.decontaminate(batch_df, bench, "url", "text", n=n).persist()
        n_flagged = flagged.count()
        flagged.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(flagged_path)
        clean = batch_df.join(flagged.select("url"), "url", "left_anti")
        clean.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(clean_path)
        spark.createDataFrame(
            [(int(batch_id), n_in, n_in - n_flagged, n_flagged, n_bench)],
            "batch_id long, n_in long, n_clean long, n_flagged long, "
            "n_benchmark long",
        ).write.mode("append").parquet(metrics_path)
        flagged.unpersist()
        batch_df.unpersist()

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def streaming_near_dedup(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    *,
    checkpoint_dir: str | None = None,
    n_bands: int = 4,
    rows_per_band: int = 2,
) -> None:
    """Streaming MinHash near-dup gate against a GROWING signature
    store: each micro-batch minhashes only ITSELF, probes the persisted
    (url, band, sig) store for near-dups of already-accepted pages,
    drops within-batch near-dups (keep the lexicographically smallest
    url), then appends the survivors' signatures to the store.

    This is the incremental-dedup production loop
    (:func:`clawrag_spark.operators.dataset.minhash_cross_candidates`)
    driven by Structured Streaming: per-ingest cost is O(batch) — the
    committed corpus is touched only through the signature artifact,
    never re-tokenized.  Exactly-once page processing comes from the
    checkpoint; the store/accepted/rejected appends share the
    at-least-once-side-effect caveat of every foreachBatch sink here
    (a crash between writes can duplicate signature rows, which is
    harmless — candidates are distinct'd — and duplicated accepted
    rows compact away by url, the same story as ``incremental_curate``).

    Sinks under ``out_dir``: ``accepted`` (surviving pages),
    ``rejected`` (url + which prior url it near-dups), ``sig_store``
    (the growing band-signature artifact), ``near_dedup_metrics``
    (per-batch audit: rows in/accepted/rejected, store size probed).
    """
    from .operators import dataset as DS

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_neardup_checkpoint")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    store_path = os.path.join(out_dir, "sig_store")
    accepted_path = os.path.join(out_dir, "accepted")
    rejected_path = os.path.join(out_dir, "rejected")
    metrics_path = os.path.join(out_dir, "near_dedup_metrics")

    def process_batch(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_in = batch_df.count()
        sigs = DS.minhash_band_signatures(
            batch_df, "url", "text", n_bands, rows_per_band
        ).persist()
        sigs.count()  # materialize before the plan forks (cache race)
        try:
            store = spark.read.parquet(store_path)
            n_store = store.select("url").distinct().count()
        except Exception:  # first batch: no store yet
            store = None
            n_store = 0
        # vs committed store: any shared band signature flags the new url
        if store is not None:
            vs_store = (
                sigs.join(
                    store.select(
                        F.col("url").alias("dup_of"), "band", "sig"
                    ),
                    ["band", "sig"],
                )
                .groupBy("url")
                .agg(F.min("dup_of").alias("dup_of"))
            )
        else:
            vs_store = spark.createDataFrame([], "url string, dup_of string")
        # within-batch: smaller url wins (same domination rule as
        # semantic_dedup — deterministic, no transitive closure)
        a, b = sigs.alias("a"), sigs.alias("b")
        in_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.url") > F.col("b.url")),
            )
            .select(F.col("a.url").alias("url"), F.col("b.url").alias("dup_of"))
            .groupBy("url")
            .agg(F.min("dup_of").alias("dup_of"))
        )
        rejected = (
            vs_store.unionByName(in_batch)
            .groupBy("url")
            .agg(F.min("dup_of").alias("dup_of"))
            .persist()
        )
        n_rej = rejected.count()
        rejected.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(rejected_path)
        survivors = batch_df.join(rejected.select("url"), "url", "left_anti")
        survivors.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(accepted_path)
        sigs.join(rejected.select("url"), "url", "left_anti").write.mode(
            "append"
        ).parquet(store_path)
        spark.createDataFrame(
            [(int(batch_id), n_in, n_in - n_rej, n_rej, n_store)],
            "batch_id long, n_in long, n_accepted long, n_rejected long, "
            "n_store_urls long",
        ).write.mode("append").parquet(metrics_path)
        rejected.unpersist()
        sigs.unpersist()
        batch_df.unpersist()

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
