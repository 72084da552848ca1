"""Physical-plan assertions: the plans we want, not just plans that pass.

Checks Catalyst picked the intended strategies: predicate pushdown into
the parquet scan, column pruning, broadcast joins for small sides,
TakeOrderedAndProject for top-k (no global sort), and whole-stage
codegen for expression-only operators.
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from clawrag_spark.session import release

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def shuffle_outputs(df) -> list[dict]:
    """Collect ``df``, then walk its executed physical plan (adaptive
    query stages included) and return every ShuffleExchangeExec's output
    columns as {name: type}."""
    df.collect()
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "ShuffleExchangeExec":
            attrs = node.output()
            out.append(
                {
                    attrs.apply(i).name(): attrs.apply(i).dataType().simpleString()
                    for i in range(attrs.size())
                }
            )
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def assert_pair_exchanges_carry_hashes(df) -> None:
    """Every per-pair exchange (one holding doc_a and doc_b) carries the
    docs' 16-byte md5 hashes as array<binary>, never a shingle string
    array or the ranked struct list (the 100 TB shuffle-volume rule)."""
    pair_exchanges = [
        cols for cols in shuffle_outputs(df) if {"doc_a", "doc_b"} <= cols.keys()
    ]
    assert pair_exchanges
    for cols in pair_exchanges:
        for name, dtype in cols.items():
            assert not dtype.startswith(("array<string>", "array<struct")), (name, dtype)
    assert any("array<binary>" in cols.values() for cols in pair_exchanges)


class TestPushdownPruning:
    def test_filter_pushed_to_scan(self, spark):
        df = entry_mod.q_token_counts(spark, SF_DIR)  # doc_id < 100
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan

    def test_column_pruning(self, spark):
        # pagination projects (doc_id, text): scan must not read lang/source
        df = entry_mod.q_doc_pagination(spark, SF_DIR)
        plan = plan_of(df)
        scan = plan[plan.index("Scan parquet"):]
        read_schema = scan[: scan.index("\n", scan.index("ReadSchema"))]
        assert "lang" not in read_schema and "source" not in read_schema

    def test_extract_stage_prunes_text_hint(self, spark, pages_path):
        from clawrag_spark.pipeline import prepare_pages

        pages = spark.read.parquet(pages_path)
        narrow = prepare_pages(pages).select("url", "warc_ts", "doc_hash_pre")
        plan = plan_of(narrow)
        scan = plan[plan.index("Scan parquet"):]
        read_schema = scan[: scan.index("\n", scan.index("ReadSchema"))]
        # the pre-extracted `text` hint column must never be read
        assert "text" not in read_schema
        assert "lang" not in read_schema


class TestJoinStrategies:
    def test_parent_join_is_broadcast(self, spark):
        df = entry_mod.q_best_order_per_customer(spark, SF_DIR)
        assert "BroadcastHashJoin" in plan_of(df)

    def test_bm25_idf_join_is_broadcast(self, spark):
        df = entry_mod.q_bm25_scores(spark, SF_DIR)
        assert "BroadcastHashJoin" in plan_of(df)

    def test_resume_antijoin_shape(self, spark, pages_path):
        from clawrag_spark.pipeline import prepare_pages

        pages = prepare_pages(spark.read.parquet(pages_path))
        seen = pages.select(F.col("doc_hash_pre")).distinct().limit(10)
        anti = pages.join(seen, "doc_hash_pre", "left_anti")
        plan = plan_of(anti)
        assert "LeftAnti" in plan


class TestTopK:
    def test_top_orders_uses_take_ordered(self, spark):
        df = entry_mod.q_top_orders(spark, SF_DIR)
        assert "TakeOrderedAndProject" in plan_of(df)

    def test_cosine_topk_uses_take_ordered(self, spark):
        df = entry_mod.q_cosine_topk(spark, SF_DIR)
        assert "TakeOrderedAndProject" in plan_of(df)


class TestNoCartesian:
    def test_blocked_near_dup_has_no_cartesian(self, spark):
        # the exact near-dup join must be the block-grid cogrouped plan,
        # never a cross join of the embeddings table against itself
        plan = plan_of(entry_mod.q_embedding_near_dup(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan

    def test_ngram_jaccard_has_no_cartesian(self, spark):
        # candidates come from the MinHash band equi-join (round-1 bug:
        # a doc_id < doc_id theta join planned as cartesian)
        plan = plan_of(entry_mod.q_ngram_jaccard(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_simhash_band_join_is_equi(self, spark):
        plan = plan_of(entry_mod.q_simhash_pairs(spark, SF_DIR))
        assert "CartesianProduct" not in plan


class TestNewPushdown:
    def test_metadata_filter_pushed_to_scan(self, spark):
        plan = plan_of(entry_mod.q_metadata_filter(spark, SF_DIR))
        assert "PushedFilters" in plan
        pushed = plan[plan.index("PushedFilters"):]
        pushed = pushed[: pushed.index("\n")]
        assert "lang" in pushed and "n_chars" in pushed

    def test_bm25_cached_index_reused(self, spark):
        # the postings/doclen/idf frames are persisted once per session:
        # the scoring plan must read from InMemoryTableScan, not re-scan
        # + re-tokenize the documents parquet
        entry_mod.q_bm25_scores(spark, SF_DIR).collect()  # warm the cache
        plan = plan_of(entry_mod.q_bm25_scores(spark, SF_DIR))
        assert "InMemoryTableScan" in plan


class TestCodegen:
    def test_quality_score_is_jvm_only(self, spark):
        # A10 as pure column expressions: no BatchEvalPython /
        # ArrowEvalPython in the plan.  (The short-line-ratio
        # higher-order function keeps the Project out of whole-stage
        # codegen, but it is still JVM expression evaluation.)
        df = entry_mod.q_quality_scores(spark, SF_DIR)
        plan = plan_of(df)
        assert "EvalPython" not in plan
        assert "codegen" in plan  # scan/ColumnarToRow stage is codegen'd

    def test_fusion_has_no_python(self, spark):
        plan = plan_of(entry_mod.q_hybrid_minmax(spark, SF_DIR))
        assert "EvalPython" not in plan

    def test_rrf_has_no_python(self, spark):
        plan = plan_of(entry_mod.q_rrf_fusion(spark, SF_DIR))
        assert "EvalPython" not in plan


class TestSkewHandling:
    def test_salted_aggregate_matches_plain(self, spark):
        """Salted two-phase aggregation must equal the plain groupBy for
        every algebraic aggregate, independent of salt placement."""
        from clawrag_spark.operators.skew import salted_aggregate

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plain = {
            (r["source"],): (r["n"], r["s"], r["mn"], r["mx"])
            for r in docs.groupBy("source").agg(
                F.count("*").alias("n"), F.sum("n_chars").alias("s"),
                F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"),
            ).collect()
        }
        for salt_expr in (None, F.pmod(F.xxhash64("doc_id"), F.lit(8))):
            salted = {
                (r["source"],): (r["n"], r["s"], r["mn"], r["mx"])
                for r in salted_aggregate(
                    docs, ["source"],
                    {"n": ("*", "count"), "s": ("n_chars", "sum"),
                     "mn": ("n_chars", "min"), "mx": ("n_chars", "max")},
                    salt_expr=salt_expr,
                ).collect()
            }
            assert salted == plain

    def test_salted_aggregate_rejects_non_algebraic(self, spark):
        from clawrag_spark.operators.skew import salted_aggregate

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        with pytest.raises(ValueError, match="not algebraic"):
            salted_aggregate(docs, ["source"], {"a": ("n_chars", "avg")})

    def test_aqe_splits_skewed_join_partitions(self, spark):
        """AQE skew-join must actually fire on a Zipf-skewed join: the
        final adaptive plan carries the isSkew=true split marker."""
        import re

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.shuffle.partitions": "8",
        }
        prev = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # hot key: ~80% of fact rows share key 0 (Zipf-ish)
            fact = spark.range(0, 40000).select(
                F.when(F.col("id") % 5 != 0, F.lit(0)).otherwise(F.col("id"))
                .alias("k"),
                F.concat(F.lit("x" * 64), F.col("id")).alias("payload"),
            )
            dim = spark.range(0, 40000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
            joined = fact.join(dim, "k")
            # collect() executes THIS DataFrame's queryExecution (count()
            # would build a separate plan and leave this one unfinalized)
            assert len(joined.collect()) == 40000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"isSkew=true|skew=\[?true", plan), plan[:3000]
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


class TestWebtextPlans:
    """The curation family's scale contracts: per-document signals stay
    shuffle-free and JVM-side; the one corpus-level op (paragraph dedup)
    never degenerates into a cartesian/nested-loop plan."""

    def test_ngram_repetition_has_no_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_ngram_repetition(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_pii_scrub_has_no_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_pii_scrub(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_line_signals_has_no_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_line_signals(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_paragraph_dedup_no_cartesian_no_python(self, spark):
        plan = plan_of(entry_mod.q_paragraph_dedup(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan

    def test_url_latest_single_window_no_python(self, spark):
        plan = plan_of(entry_mod.q_url_latest(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert plan.count("Window") >= 1

    def test_curation_funnel_no_cartesian_no_python(self, spark):
        plan = plan_of(entry_mod.q_curation_funnel(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # r6: the quality gate is a deliberate Arrow batch kernel
        # (`_gopher_frac_ok`, parity pinned by test_curation_gate.py)
        # inside the session-cached subtree; row-at-a-time BatchEval
        # remains forbidden
        assert "BatchEvalPython" not in plan

    def test_knn_join_broadcasts_query_side(self, spark):
        plan = plan_of(entry_mod.q_knn_join(spark, SF_DIR))
        # the nested-loop is intended here — but ONLY with a broadcast
        # query side, never a shuffled cartesian
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan

    def test_quantize_scale_fold_staged_once(self, spark):
        # the O(d) amax fold must NOT sit inside the transform() lambda
        # (no CSE across lambda scopes -> O(d^2)/row); two staged
        # projections leave exactly ONE aggregate in the optimized plan
        from clawrag_spark.operators.dataset import quantize_embeddings_int8

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25])], "vec_id long, embedding array<double>"
        )
        q = quantize_embeddings_int8(df, "vec_id", "embedding")
        opt = q._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("aggregate(") == 1
        # and the codes lambda references the staged attribute, not the fold
        transform_part = opt[opt.index("transform(") :].split("\n")[0]
        assert "aggregate(" not in transform_part

    def test_jaccard_verify_no_arrays_cross_candidate_join(self, spark):
        # the verify must count (doc, gram-hash) ROWS, never ship whole
        # gram arrays per candidate pair through the shuffle
        plan = plan_of(entry_mod.q_ngram_jaccard(spark, SF_DIR))
        assert "array_intersect" not in plan
        assert "array_union" not in plan
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan

    def test_gopher_quality_no_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_gopher_quality(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_crawl_schedule_single_host_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_crawl_schedule(spark, SF_DIR))
        assert "EvalPython" not in plan
        # one host-partitioned sort drives both window functions
        assert plan.count("Window") >= 1


class TestWebgraphPlans:
    """Webgraph scale contracts: extraction/resolution stay JVM-side
    expression-only; edge aggregation is ONE shuffle; the PageRank
    dangling-mass scalar rides a 1-row broadcast, never a cartesian."""

    def test_link_graph_expression_only_single_shuffle(self, spark):
        # r6: the query reads the session-cached host-edge frame (shared
        # by eight webgraph queries); the single-shuffle pin applies to
        # the OPERATOR COMPOSITION that builds it
        import os

        from clawrag_spark.operators import webgraph as WG

        entry_mod._ensure_pipeline_demo(spark)
        # Spark's CacheManager substitutes the session-cached edge frame
        # into ANY matching plan — release the artifact so the pin sees
        # the raw operator plan regardless of test order (consumers
        # lazily rebuild it)
        release("host_edges")
        pages = spark.read.parquet(
            os.path.join(entry_mod._DEMO_DIR, "pages.parquet")
        )
        edges = WG.host_edges(WG.resolve_links(WG.extract_links(pages)))
        plan = plan_of(edges)
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        # scan -> partial agg -> ONE exchange on the host pair -> final
        # (each node prints twice in formatted plans: tree + detail)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        # ... and the declared query serves it from the session cache
        qplan = plan_of(entry_mod.q_link_graph(spark, SF_DIR))
        assert "InMemoryTableScan" in qplan

    def test_anchor_texts_expression_only_single_shuffle(self, spark):
        plan = plan_of(entry_mod.q_anchor_texts(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_pagerank_iteration_no_cartesian(self, spark):
        # pin the PRE-checkpoint iteration plan (the query's own final
        # frame hides behind the localCheckpoint RDD scan): the 1-row
        # dangling-mass crossJoin must plan as a broadcast nested loop,
        # never a shuffled CartesianProduct, and stay Python-free
        from pyspark.sql import functions as F
        from clawrag_spark.operators import webgraph as WG

        edges = spark.createDataFrame(
            [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 2.0)],
            "src_host string, dst_host string, n_links double",
        )
        e = edges.select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
            F.col("n_links").cast("double").alias("w"),
        )
        nodes = e.select(F.col("src").alias("n")).union(
            e.select(F.col("dst").alias("n"))
        ).distinct()
        wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
        frac = e.join(wsum, "src").select(
            "src", "dst", (F.col("w") / F.col("wsum")).alias("frac")
        )
        ranks = nodes.select("n", F.lit(1.0 / 3).alias("rank"))
        contrib = (
            frac.join(ranks.select(F.col("n").alias("src"), "rank"), "src")
            .groupBy("dst").agg(F.sum(F.col("frac") * F.col("rank")).alias("c"))
        )
        dangling = ranks.join(
            wsum.select(F.col("src").alias("n")), "n", "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        step = (
            nodes.join(contrib.select(F.col("dst").alias("n"), "c"), "n", "left")
            .crossJoin(F.broadcast(dangling))
            .select("n", (F.col("dm") + F.coalesce(F.col("c"), F.lit(0.0))).alias("r"))
        )
        plan = plan_of(step)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan
        assert "EvalPython" not in plan


class TestRound4NewOpPlans:
    """Scale contracts for the round-4 training-data operators."""

    def test_snapshot_diff_joins_fingerprints_only(self, spark):
        plan = plan_of(entry_mod.q_snapshot_diff(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        # the full-outer join must carry digests, never page text
        join = plan[plan.index("SortMergeJoin"):] if "SortMergeJoin" in plan else plan
        assert "text" not in join.split("\n")[0]

    def test_url_templates_expression_only_single_agg(self, spark):
        plan = plan_of(entry_mod.q_url_templates(spark, SF_DIR))
        assert "EvalPython" not in plan
        # one hash-agg exchange (partial+final), nothing else — formatted
        # plans print each node twice (tree + detail), hence the regex
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_dsir_models_broadcast_no_python(self, spark):
        plan = plan_of(entry_mod.q_dsir_weights(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_semantic_dedup_no_cartesian(self, spark):
        plan = plan_of(entry_mod.q_semantic_dedup(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # pairs are scored inside the per-cell Arrow kernel
        assert "FlatMapGroupsInPandas" in plan

    def test_bloom_probe_broadcasts_filter_no_python(self, spark):
        plan = plan_of(entry_mod.q_bloom_probe(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "BroadcastHashJoin" in plan

    def test_dedup_incremental_equi_join_no_python(self, spark):
        plan = plan_of(entry_mod.q_dedup_incremental(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_token_budget_no_python_single_agg_exchange(self, spark):
        plan = plan_of(entry_mod.q_token_budget(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_pack_shards_no_global_single_partition_sort(self, spark):
        df = entry_mod.q_pack_shards(spark, SF_DIR)
        plan = plan_of(df)
        assert "EvalPython" not in plan
        # the only SinglePartition exchange feeds the P-row offset
        # window, never the full doc stream
        assert plan.count("Exchange SinglePartition") <= 1
        assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan

    def test_cms_sketch_broadcasts_no_python_no_cartesian(self, spark):
        plan = plan_of(entry_mod.q_cms_heavy_hitters(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        # the <=256-row sketch must broadcast into the probe join
        assert "BroadcastHashJoin" in plan

    def test_tfidf_corpus_size_broadcasts_no_python(self, spark):
        plan = plan_of(entry_mod.q_tfidf_keywords(spark, SF_DIR))
        assert "EvalPython" not in plan
        # the 1-row N rides in as a broadcast nested-loop cross join
        # (the only sanctioned BNLJ use: a literally-1-row side)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_train_val_split_assignment_is_pure_projection(self, spark):
        from clawrag_spark.operators.webtext import train_val_split

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(train_val_split(docs, "source", 0.3))
        # zero shuffle, zero Python: the split is scan-side
        assert "EvalPython" not in plan
        assert "Exchange" not in plan

    def test_pca_projection_is_jvm_only(self, spark):
        from clawrag_spark.operators.dataset import pca_project

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        d = len(emb.select("embedding").first()[0])
        comps = [[1.0 if i == j else 0.0 for i in range(d)] for j in range(3)]
        plan = plan_of(
            pca_project(emb, "vec_id", "embedding", [0.0] * d, comps)
        )
        # the scoring pass is JVM-only and scan-side: no Arrow/Python
        # eval, no shuffle — fit_pca's mapInPandas is the ONLY Python
        # stage (higher-order aggregate/zip_with run interpreted but
        # in-JVM, outside codegen, which is fine)
        assert "EvalPython" not in plan
        assert "Exchange" not in plan

    def test_nfc_normalize_single_arrow_stage_no_shuffle(self, spark):
        plan = plan_of(entry_mod.q_nfc_normalize(spark, SF_DIR))
        # exactly one Arrow-batched python stage (the normalizer — its
        # output column is REUSED by md5 and length, never re-evaluated)
        # and it runs scan-side with no exchange; count physical nodes,
        # not string mentions (each node prints twice in formatted mode)
        assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
        assert "Exchange" not in plan


class TestSessionAdditionPlans:
    """Plan contracts for the newest operators: the exact similarity
    join stays equi-join-only, eTLD+1 extraction never joins, and the
    readability projection is pure JVM expressions."""

    def test_similarity_join_no_cartesian_no_python(self, spark):
        plan = plan_of(entry_mod.q_similarity_join(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan

    def test_similarity_join_verify_shuffles_hashes_not_arrays(self, spark):
        assert_pair_exchanges_carry_hashes(entry_mod.q_similarity_join(spark, SF_DIR))

    def test_quote_containment_verify_shuffles_hashes_not_arrays(self, spark):
        assert_pair_exchanges_carry_hashes(entry_mod.q_quote_containment(spark, SF_DIR))

    @pytest.mark.parametrize(
        "query, budget", [("q_similarity_join", 11), ("q_quote_containment", 14)]
    )
    def test_set_similarity_warm_job_budget(self, spark, construction_jobs, query, budget):
        # one warm build + collect at sf0.001: the rarest-first rank is
        # one window + one per-doc aggregate shared by the candidate
        # join and both verify attaches (29 and 28 jobs before it)
        fn = getattr(entry_mod, query)
        fn(spark, SF_DIR).collect()
        assert len(construction_jobs(lambda: fn(spark, SF_DIR).collect())) <= budget

    def test_registered_domains_no_join_single_scan(self, spark):
        plan = plan_of(entry_mod.q_registered_domains(spark, SF_DIR))
        # literal INSET match, never a suffix-table join
        assert "Join" not in plan
        assert "EvalPython" not in plan
        # formatted explain lists each scan twice (tree + details)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1

    def test_readability_zero_shuffle_jvm_only(self, spark):
        plan = plan_of(entry_mod.q_readability(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
        # '*' marks whole-stage-codegen nodes in formatted explain
        assert "* Project" in plan

    def test_image_near_dups_band_join_is_equi(self, spark):
        plan = plan_of(entry_mod.q_image_near_dups(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_softdedup_weights_no_cartesian(self, spark):
        plan = plan_of(entry_mod.q_softdedup_weights(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_unigram_seed_single_corpus_scan_two_shuffles(self, spark):
        # word-count shuffle + piece shuffle (+ the top-k sort's own
        # exchange): the seed step must stay O(words) — never re-scan
        # the corpus per piece length
        plan = plan_of(entry_mod.q_unigram_seed(spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert "EvalPython" not in plan


class TestRound4SessionPlans:
    """Plan pins for the newest operators: the plans we want."""

    def test_c4_clean_zero_shuffle_no_python(self, spark):
        plan = plan_of(entry_mod.q_c4_clean(spark, SF_DIR))
        assert "EvalPython" not in plan
        # pure per-row array expressions over one scan: no exchange at all
        assert "Exchange" not in plan

    def test_threshold_sweep_single_scan_broadcast_grid(self, spark):
        plan = plan_of(entry_mod.q_threshold_sweep(spark, SF_DIR))
        assert "EvalPython" not in plan
        # one corpus scan for the whole grid (each physical scan has
        # exactly one Location line in the formatted plan)
        assert plan.count("Location: InMemoryFileIndex") == 1
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_span_dedup_one_hash_window_no_python(self, spark):
        plan = plan_of(entry_mod.q_span_dedup(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "Window" in plan

    def test_domain_kl_broadcast_rollups_no_python(self, spark):
        plan = plan_of(entry_mod.q_domain_kl(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        # global dist + totals join back via broadcast, never shuffled-merge
        assert "BroadcastHashJoin" in plan

    def test_dup_ngrams_topk_no_global_sort(self, spark):
        plan = plan_of(entry_mod.q_dup_ngrams(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan
        assert "EvalPython" not in plan

    def test_pack_sequences_no_single_partition_input_window(self, spark):
        plan = plan_of(entry_mod.q_pack_sequences(spark, SF_DIR))
        assert "EvalPython" not in plan
        # only the P-row offset cumsum may be single-partition
        assert plan.count("Exchange SinglePartition") <= 1

    def test_attribute_filter_semi_join_no_text_probe(self, spark):
        plan = plan_of(entry_mod.q_attribute_filter(spark, SF_DIR))
        assert "LeftSemi" in plan
        assert "EvalPython" not in plan

    def test_frontier_plan_broadcast_gate_single_host_window(self, spark):
        plan = plan_of(entry_mod.q_frontier_plan(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        # rules + priority joins broadcast; schedule is one host window
        assert "BroadcastHashJoin" in plan

    def test_source_overlap_sketch_sized_join(self, spark):
        plan = plan_of(entry_mod.q_source_overlap(spark, SF_DIR))
        assert "EvalPython" not in plan
        # the pair join is over 3 sketch rows: nested-loop is intended
        # but only with a broadcast side, never a shuffled cartesian
        assert "CartesianProduct" not in plan

    def test_recrawl_priority_single_exchange_pair_no_python(self, spark):
        plan = plan_of(entry_mod.q_recrawl_priority(spark, SF_DIR))
        assert "EvalPython" not in plan
        # lag window + per-URL aggregate share the url key: AQE keeps
        # the exchange count at the (ts-collapse + window) pair, never
        # one per operator
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_zipf_and_temperature_mix_stay_jvm(self, spark):
        for q in (entry_mod.q_zipf_fit, entry_mod.q_temperature_mix):
            plan = plan_of(q(spark, SF_DIR))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan

    def test_quote_containment_no_cartesian_no_python(self, spark):
        plan = plan_of(entry_mod.q_quote_containment(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan

    def test_pmi_topk_no_global_sort(self, spark):
        plan = plan_of(entry_mod.q_pmi_collocations(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan
        assert "EvalPython" not in plan
        # N/B totals ride a broadcast, never a shuffled cartesian
        assert "CartesianProduct" not in plan

    def test_postings_gaps_window_reuses_term_partitioning(self, spark):
        plan = plan_of(entry_mod.q_postings_gaps(spark, SF_DIR))
        assert "EvalPython" not in plan
        # distinct (term,docid) + term window + per-term agg: the term
        # key is shared, so at most distinct + window exchanges appear
        # before the final magnitude rollup
        assert plan.count("Exchange hashpartitioning") <= 3

    def test_shard_manifest_no_python_no_cartesian(self, spark):
        plan = plan_of(entry_mod.q_shard_manifest(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_link_reciprocity_single_pair_join_no_python(self, spark):
        plan = plan_of(entry_mod.q_link_reciprocity(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_heaps_fit_no_single_partition_corpus_window(self, spark):
        plan = plan_of(entry_mod.q_heaps_fit(spark, SF_DIR))
        assert "EvalPython" not in plan
        # the two-phase prefix sum allows one P-row single-partition
        # exchange (partition offsets); the corpus itself never funnels
        assert plan.count("Exchange SinglePartition") <= 2

    def test_impact_topk_is_integer_only_probe(self, spark):
        """Query tier over the impact index: no Python, no cartesian,
        no join at all in the probe plan — filter + hash agg + top-k."""
        plan = plan_of(entry_mod.q_impact_topk(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_crawl_budget_prefix_core_shape(self, spark):
        """Water-filling allocator: broadcast offsets join, no Python,
        only the P-row offsets exchange funnels to one partition."""
        plan = plan_of(entry_mod.q_crawl_budget(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan
        assert plan.count("Exchange SinglePartition") <= 2

    def test_frontier_caps_broadcasts_host_caps(self, spark):
        plan = plan_of(entry_mod.q_frontier_caps(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan

    def test_bitext_gale_broadcasts_and_stays_jvm(self, spark):
        plan = plan_of(entry_mod.q_bitext_gale(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan

    def test_embedding_sanity_scan_side_only(self, spark):
        """QA verdicts are pure expressions over one scan: no Python,
        no join for the quartile fence (broadcast as literals)."""
        plan = plan_of(entry_mod.q_embedding_sanity(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "Join" not in plan  # fence folded into the projection

    def test_impact_pruned_no_python(self, spark):
        plan = plan_of(entry_mod.q_impact_pruned(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "TakeOrderedAndProject" in plan


class TestRound4SessionPlans:
    """Scale contracts for the mirror / bitext / NB-langid / wildcard
    family: candidate generation stays equi-join (never cartesian),
    models and rules broadcast, and everything is JVM-expression-only."""

    def test_mirror_hosts_no_cartesian_no_python(self, spark):
        plan = plan_of(entry_mod.q_mirror_hosts(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan

    def test_nb_langid_model_joins_broadcast_no_python(self, spark):
        plan = plan_of(entry_mod.q_nb_langid(spark, SF_DIR))
        assert "EvalPython" not in plan
        # gram-table join + doc x lang spine both ride broadcasts
        assert plan.count("BroadcastHashJoin") >= 1
        assert "BroadcastNestedLoopJoin" in plan  # the |langs|-row crossJoin
        assert "CartesianProduct" not in plan

    def test_robots_wildcard_rules_broadcast_no_python(self, spark):
        plan = plan_of(entry_mod.q_robots_wildcard(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_bitext_verify_expression_only(self, spark):
        plan = plan_of(entry_mod.q_bitext_verify(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_record_linkage_blocked_equi_join_no_python(self, spark):
        """The F-S candidate generator is the blocking equi-join —
        never a cartesian; all scoring stays in codegen."""
        plan = plan_of(entry_mod.q_record_linkage(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_event_transitions_single_user_window_no_python(self, spark):
        """One per-user window + one (prev,next) groupBy; the
        normalizer windows the tiny result frame, not the events."""
        plan = plan_of(entry_mod.q_event_transitions(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_unimax_k_anonymity_expression_only(self, spark):
        for q in (entry_mod.q_unimax_mix, entry_mod.q_k_anonymity):
            plan = plan_of(q(spark, SF_DIR))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan

    def test_l_diversity_behavior_entropy_no_python(self, spark):
        for q in (entry_mod.q_l_diversity, entry_mod.q_behavior_entropy):
            plan = plan_of(q(spark, SF_DIR))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan

    def test_hour_profile_two_level_agg_no_python(self, spark):
        plan = plan_of(entry_mod.q_hour_profile(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_dp_matryoshka_expression_only(self, spark):
        for q in (entry_mod.q_dp_counts, entry_mod.q_matryoshka_report):
            plan = plan_of(q(spark, SF_DIR))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan

    def test_filter_metrics_no_python_no_global_window(self, spark):
        """AUC rides the two-phase distributed rank — the optimized
        plan must not contain a partition-less Window sort."""
        plan = plan_of(entry_mod.q_filter_auc(spark, SF_DIR))
        assert "EvalPython" not in plan
        for frag in re.findall(r"Window .*", plan):
            assert "partitionBy" not in frag or "partitionBy=\\[\\]" not in frag
        plan2 = plan_of(entry_mod.q_filter_agreement(spark, SF_DIR))
        assert "EvalPython" not in plan2
        assert "CartesianProduct" not in plan2

    def test_triplet_mining_broadcast_anchors(self, spark):
        # r6: the pair stream lives inside one Arrow batch kernel with
        # per-batch partial argmax (anchors ship in the task closure —
        # the same metadata-size bound the old broadcast join had); the
        # plan must show the kernel + the struct-max aggregate and no
        # pair-level join/shuffle machinery
        plan = plan_of(entry_mod.q_triplet_mining(spark, SF_DIR))
        assert "MapInPandas" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" not in plan

    def test_label_outliers_broadcast_centroids_no_python(self, spark):
        plan = plan_of(entry_mod.q_label_outliers(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_knn_shapley_broadcast_tests_no_python(self, spark):
        plan = plan_of(entry_mod.q_knn_shapley(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # test points broadcast

    def test_length_buckets_single_agg_no_python(self, spark):
        plan = plan_of(entry_mod.q_length_buckets(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert plan.count("Exchange") <= 2  # one partial-agg shuffle (+AQE read)

    def test_ann_hubness_broadcast_no_python(self, spark):
        plan = plan_of(entry_mod.q_ann_hubness(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan

    def test_ivf_sweep_broadcast_cells_no_python(self, spark):
        plan = plan_of(entry_mod.q_ivf_recall_sweep(spark, SF_DIR))
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_negative_table_shard_provenance_no_python(self, spark):
        for q in (entry_mod.q_negative_table, entry_mod.q_shard_provenance):
            plan = plan_of(q(spark, SF_DIR))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan


class TestPerCellSelectors:
    """kcenter_cells / mmr_cells: ONE exchange (the groupBy-cell
    shuffle feeding FlatMapGroupsInPandas), no cartesian, no extra
    repartition — the per-cell greedy is a single distributed pass."""

    def test_kcenter_cells_single_cell_shuffle(self, spark):
        plan = plan_of(entry_mod.q_kcenter_cells(spark, SF_DIR))
        assert "FlatMapGroupsInPandas" in plan
        assert "CartesianProduct" not in plan
        # the one hash-partition exchange on the cell key (each node
        # prints twice in formatted explain: tree line + detail block)
        assert plan.count("Exchange") <= 2

    def test_mmr_cells_single_cell_shuffle(self, spark):
        plan = plan_of(entry_mod.q_mmr_cells(spark, SF_DIR))
        assert "FlatMapGroupsInPandas" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") <= 2
