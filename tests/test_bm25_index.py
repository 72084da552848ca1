"""Persisted BM25 index (S15/A7): incremental maintenance across runs
must give the same scores as a from-scratch recompute over the committed
chunks, and the probe must touch only index tables (no corpus scan).
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from clawrag_spark.operators import retrieval as R
from clawrag_spark.pipeline import (
    _bm25_current,
    _read_bm25_table,
    bm25_query_index,
    bm25_snapshot_summary,
    read_chunks,
    run_pipeline,
)

TERMS = ["the", "data", "scale"]


@pytest.fixture(scope="module")
def indexed_out(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bm25_out"))
    pages = spark.read.parquet(pages_path)
    # two incremental runs: half the corpus, then the rest via resume
    run_pipeline(spark, pages.limit(300), out, run_id="runa", bm25_index=True)
    run_pipeline(spark, pages, out, run_id="runb", bm25_index=True)
    return out


def _scores_full_recompute(spark, out, **params):
    chunks = read_chunks(spark, out).select("chunk_id", "text")
    return R.bm25_scores(chunks, "chunk_id", "text", TERMS, **params)


# "the" has a negative raw idf in the fixture, so the epsilon floor is
# exercised at both parameter sets
@pytest.mark.parametrize(
    "params",
    [{}, {"k1": 1.2, "b": 0.5, "epsilon": 0.1}],
    ids=["defaults", "k1_1.2-b_0.5-eps_0.1"],
)
def test_incremental_index_matches_full_recompute(spark, indexed_out, params):
    got = {
        r["chunk_id"]: r["bm25_score"]
        for r in bm25_query_index(spark, indexed_out, TERMS, **params).collect()
    }
    want = {
        r["chunk_id"]: r["bm25_score"]
        for r in _scores_full_recompute(spark, indexed_out, **params).collect()
    }
    assert len(want) > 0, "vacuous: no positive-score chunks in fixture"
    assert got.keys() == want.keys()
    for cid, score in want.items():
        assert got[cid] == pytest.approx(score, rel=1e-12)
    index_dir = os.path.join(indexed_out, "bm25_index")
    pointer = _bm25_current(index_dir)
    (the_df,) = (
        _read_bm25_table(spark, index_dir, "df", pointer["df"])
        .filter(F.col("term") == "the")
        .select("doc_freq")
        .first()
    )
    assert 2 * the_df > pointer["summary"]["n_docs"], "floor not exercised"


def test_snapshot_pointer_and_deltas(spark, indexed_out):
    index_dir = os.path.join(indexed_out, "bm25_index")
    assert os.path.exists(os.path.join(index_dir, "_current.json"))
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    # both runs appended deltas
    runs = {r["run_id"] for r in postings.select("run_id").distinct().collect()}
    assert runs == {"runa", "runb"}
    # postings are per (chunk, term) — no duplicates across runs
    n = postings.count()
    assert n == postings.select("chunk_id", "term").distinct().count()


def test_probe_plan_has_no_corpus_scan(spark, indexed_out):
    plan = bm25_query_index(spark, indexed_out, TERMS)._jdf.queryExecution().executedPlan().toString()
    assert "/chunks" not in plan, "probe must not re-scan the corpus"
    # the query-term filter reaches the postings parquet scan
    assert "PushedFilters: [In(term" in plan, plan[:2000]


def test_probe_construction_starts_no_job(spark, indexed_out, construction_jobs):
    assert construction_jobs(lambda: bm25_query_index(spark, indexed_out, TERMS)) == []


def test_pointer_summary_matches_tables(spark, indexed_out):
    index_dir = os.path.join(indexed_out, "bm25_index")
    pointer = _bm25_current(index_dir)
    assert pointer["summary"] == bm25_snapshot_summary(
        spark, index_dir, pointer["df"], pointer["stats"]
    )
    doclen = _read_bm25_table(spark, index_dir, "doclen")
    assert pointer["summary"]["n_docs"] == doclen.count() > 0


def test_pointer_without_summary_scores_bitwise_equal(spark, indexed_out, tmp_path):
    """A pointer written before the summary existed computes the same
    scalars on the probe, so its scores are bitwise the same."""
    out = str(tmp_path / "out")
    shutil.copytree(
        os.path.join(indexed_out, "bm25_index"), os.path.join(out, "bm25_index")
    )
    pointer_path = os.path.join(out, "bm25_index", "_current.json")
    with open(pointer_path) as fh:
        pointer = json.load(fh)
    del pointer["summary"]
    with open(pointer_path, "w") as fh:
        json.dump(pointer, fh)

    def scores(o):
        return {
            r["chunk_id"]: r["bm25_score"].hex()
            for r in bm25_query_index(spark, o, TERMS).collect()
        }

    with_summary = scores(indexed_out)
    assert with_summary and scores(out) == with_summary


def test_all_digit_run_ids(spark, pages_path, tmp_path):
    """Partition-type inference would read run_id=0042 as a number; the
    declared schema keeps it a string, and the probe still equals a
    from-scratch recompute."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages.limit(100), out, run_id="0042", bm25_index=True)
    run_pipeline(spark, pages.limit(200), out, run_id="0100", bm25_index=True)
    index_dir = os.path.join(out, "bm25_index")
    assert _bm25_current(index_dir)["runs"] == ["0042", "0100"]
    postings = _read_bm25_table(spark, index_dir, "postings")
    assert dict(postings.dtypes)["run_id"] == "string"
    got = {
        r["chunk_id"]: r["bm25_score"]
        for r in bm25_query_index(spark, out, TERMS).collect()
    }
    want = {
        r["chunk_id"]: r["bm25_score"]
        for r in _scores_full_recompute(spark, out).collect()
    }
    assert len(want) > 0 and got.keys() == want.keys()
    for cid, score in want.items():
        assert got[cid] == pytest.approx(score, rel=1e-12)


def test_orphan_postings_never_scored(spark, indexed_out, tmp_path):
    """Crash anatomy (a): a run that appended postings deltas but never
    reached its manifest/pointer commit must be invisible to the probe —
    reads are gated to the pointer's committed runs."""
    out = str(tmp_path / "out")
    shutil.copytree(indexed_out, out)
    index_dir = os.path.join(out, "bm25_index")
    baseline = {
        r["chunk_id"]: r["bm25_score"]
        for r in bm25_query_index(spark, out, TERMS).collect()
    }
    # plant an orphan delta: duplicate runb's postings under a run id
    # that is in neither the manifest nor the pointer
    orphan = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("run_id") == "runb")
        .drop("run_id")
    )
    orphan.write.mode("overwrite").parquet(
        os.path.join(index_dir, "postings", "run_id=orphan")
    )
    got = {
        r["chunk_id"]: r["bm25_score"]
        for r in bm25_query_index(spark, out, TERMS).collect()
    }
    assert got == baseline, "orphan (uncommitted) postings leaked into scores"


def test_manifested_but_unindexed_run_recovered(spark, pages_path, tmp_path):
    """Crash anatomy (b): a crash between the manifest write and the
    pointer swap leaves a manifested-but-unindexed run; the next build
    call must fold it in (todo = manifested − pointer.runs) and scores
    must equal a full recompute over committed chunks."""
    from clawrag_spark.pipeline import build_bm25_index

    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages.limit(200), out, run_id="r1", bm25_index=True)
    # simulate the crash window for r2: pipeline runs WITHOUT indexing
    # (chunks written + manifest committed, pointer untouched)
    run_pipeline(spark, pages.limit(400), out, run_id="r2", bm25_index=False)
    index_dir = os.path.join(out, "bm25_index")
    import json as _json

    with open(os.path.join(index_dir, "_current.json")) as fh:
        assert _json.load(fh)["runs"] == ["r1"]
    # recovery: any later build (here r3, a no-new-docs run) folds r2 in
    run_pipeline(spark, pages.limit(400), out, run_id="r3", bm25_index=True)
    with open(os.path.join(index_dir, "_current.json")) as fh:
        assert set(_json.load(fh)["runs"]) >= {"r1", "r2"}
    got = {
        r["chunk_id"]: r["bm25_score"]
        for r in bm25_query_index(spark, out, TERMS).collect()
    }
    want = {
        r["chunk_id"]: r["bm25_score"]
        for r in _scores_full_recompute(spark, out).collect()
    }
    assert len(want) > 0 and got.keys() == want.keys()
    for cid, score in want.items():
        assert got[cid] == pytest.approx(score, rel=1e-12)


def test_impact_index_rank_agreement(spark, indexed_out):
    """Impact-ordered codes (8-bit quantized contributions) must
    reproduce the exact-BM25 ranking closely: top-10 overlap >= 8/10
    and the exact #1 stays in the impact top-3.  Also pins the code
    range and the term_max bound used for WAND-style pruning."""
    chunks = read_chunks(spark, indexed_out).select("chunk_id", "text")
    idx = R.bm25_build_index(chunks, "chunk_id", "text")
    for name in ("postings", "doclen", "idf"):
        idx[name] = idx[name].persist()
    imp = R.build_impact_index(idx, "chunk_id")

    codes = imp["impacts"].agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).first()
    assert codes["lo"] >= 0 and codes["hi"] == 255  # max contrib -> top code

    # term_max really bounds every code of its term (the pruning invariant)
    viol = (
        imp["impacts"]
        .join(imp["term_max"], "term")
        .filter(F.col("code") > F.col("max_code"))
        .count()
    )
    assert viol == 0

    exact = [
        r["chunk_id"]
        for r in R.bm25_score_index(idx, "chunk_id", TERMS)
        .orderBy(F.desc("bm25_score"), "chunk_id")
        .limit(10)
        .collect()
    ]
    approx = [
        r["chunk_id"]
        for r in R.impact_topk(imp, "chunk_id", TERMS, k=10).collect()
    ]
    assert len(exact) == 10, "vacuous: fixture has <10 scored chunks"
    assert len(set(exact) & set(approx)) >= 8
    assert exact[0] in approx[:3]


def test_pruned_impact_index_quality(spark):
    """Static pruning to the per-term top-N postings must (a) actually
    shrink hot terms to N rows, (b) keep top-10 retrieval overlap >=
    8/10 vs the unpruned impact index on DISCRIMINATIVE query terms —
    pruning drops the tail that can't reach a result set, not the head.
    (The known limit, observed while pinning this: a stopword-grade
    term's mid-tail codes DO carry sum-score mass, so pruning reorders
    its results — measured 1/5 overlap for ['the', ...] at N=30.
    Static pruning is for the discriminative vocabulary; stopwords
    belong to the idf floor, not the pruned index.)"""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = R.bm25_build_index(docs, "doc_id", "text")
    for name in ("postings", "doclen", "idf"):
        idx[name] = idx[name].persist()
    imp = R.build_impact_index(idx, "doc_id")
    imp["impacts"] = imp["impacts"].persist()
    terms = ["dup", "spark", "join"]
    pruned = R.prune_impact_index(imp, "doc_id", 30)

    sizes = (
        pruned["impacts"].groupBy("term").count()
        .agg(F.max("count").alias("mx")).first()
    )
    assert sizes["mx"] <= 30
    full_n = imp["impacts"].count()
    assert pruned["impacts"].count() < full_n  # something was pruned

    full = [r["doc_id"] for r in R.impact_topk(imp, "doc_id", terms, k=10).collect()]
    cut = [r["doc_id"] for r in R.impact_topk(pruned, "doc_id", terms, k=10).collect()]
    assert len(full) == 10
    assert len(set(full) & set(cut)) >= 8
    assert full[0] in cut[:3]


def test_wand_topk_equals_impact_topk_and_actually_prunes(spark):
    """WAND two-phase pruning is LOSSLESS: wand_topk == impact_topk row
    for row on a skewed fixture — and the candidate gate must really
    prune (survivors < matching docs), or the operator is a no-op."""
    rows = []
    for i in range(400):
        # 'hot' is stopword-like (every doc → tiny idf → tiny codes);
        # 'rare' is discriminative and dense in ~14 docs — θ (the 10th
        # best single-term code) lands on a rare code, so the ~386
        # hot-only docs bound below it and prune.  The skew WAND exploits.
        body = "hot filler words " * 3 + ("rare signal " * (6 if i % 29 == 0 else 0))
        rows.append((i, body + f"tail{i % 7}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = R.bm25_build_index(docs, "doc_id", "text")
    imp = {k: v.persist() for k, v in R.build_impact_index(idx, "doc_id").items()}

    terms = ["hot", "rare"]
    want = [tuple(r) for r in R.impact_topk(imp, "doc_id", terms, k=10).collect()]
    got = [tuple(r) for r in R.wand_topk(imp, "doc_id", terms, k=10).collect()]
    assert len(want) == 10, "vacuous: fixture has <10 scored docs"
    assert got == want

    # the pruning gate really fires: survivors ≪ docs matching any term
    # (θ_safe mirrors the operator: k-th best per-doc max code plus the
    # summed negative per-term minima — this fixture's stopword-like
    # 'hot' term genuinely quantizes to negative codes)
    q = [t.lower() for t in terms]
    hits = imp["impacts"].filter(F.col("term").isin(q))
    kth = (
        hits.groupBy("doc_id").agg(F.max("code").alias("mx"))
        .orderBy(F.desc("mx"), "doc_id").limit(10)
        .agg(F.min("mx").alias("kth_mx"))
    )
    neg = hits.groupBy("term").agg(F.min("code").alias("tmin")).agg(
        F.sum(F.least(F.lit(0), F.col("tmin"))).alias("neg_sum")
    )
    theta = kth.crossJoin(neg).select(
        (F.col("kth_mx") + F.coalesce(F.col("neg_sum"), F.lit(0))).alias("theta")
    )
    survivors = (
        hits.join(F.broadcast(imp["term_max"].filter(F.col("term").isin(q))), "term")
        .groupBy("doc_id").agg(F.sum("max_code").alias("ub"))
        .crossJoin(F.broadcast(theta))
        .filter(F.col("ub") >= F.col("theta"))
        .count()
    )
    matching = hits.select("doc_id").distinct().count()
    assert survivors < matching, (survivors, matching)

    for v in imp.values():
        v.unpersist()


def test_wand_topk_fewer_than_k_docs_is_lossless(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "unrelated text")],
        ["doc_id", "text"],
    )
    idx = R.bm25_build_index(docs, "doc_id", "text")
    imp = R.build_impact_index(idx, "doc_id")
    want = [tuple(r) for r in R.impact_topk(imp, "doc_id", ["beta"], k=10).collect()]
    got = [tuple(r) for r in R.wand_topk(imp, "doc_id", ["beta"], k=10).collect()]
    assert got == want and len(want) == 2


def test_blockmax_topk_lossless_and_tighter_than_wand(spark):
    """Block-max WAND equals impact_topk row for row, and its survivor
    set is a SUBSET of plain WAND's (per-block maxima bound ≤ global
    term_max bound — pruning only tightens)."""
    rows = []
    for i in range(400):
        body = "hot filler words " * 3 + ("rare signal " * (6 if i % 29 == 0 else 0))
        rows.append((i, body + f"tail{i % 7}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = R.bm25_build_index(docs, "doc_id", "text")
    imp = {k: v.persist() for k, v in R.build_impact_index(idx, "doc_id").items()}
    terms = ["hot", "rare"]

    want = [tuple(r) for r in R.impact_topk(imp, "doc_id", terms, k=10).collect()]
    got = [tuple(r) for r in R.blockmax_topk(imp, "doc_id", terms, k=10,
                                             block_size=8).collect()]
    assert len(want) == 10 and got == want

    def survivors(bound_fn):
        q = [t.lower() for t in terms]
        hits, bm = bound_fn()
        kth = (
            hits.groupBy("doc_id").agg(F.max("code").alias("mx"))
            .orderBy(F.desc("mx"), "doc_id").limit(10)
            .agg(F.min("mx").alias("kth_mx"))
        )
        neg = hits.groupBy("term").agg(F.min("code").alias("tmin")).agg(
            F.sum(F.least(F.lit(0), F.col("tmin"))).alias("neg_sum")
        )
        theta = kth.crossJoin(neg).select(
            (F.col("kth_mx") + F.coalesce(F.col("neg_sum"), F.lit(0))).alias("theta")
        )
        return {
            r["doc_id"]
            for r in bm.groupBy("doc_id").agg(F.sum("b").alias("ub"))
            .crossJoin(F.broadcast(theta))
            .filter(F.col("ub") >= F.col("theta"))
            .select("doc_id").collect()
        }

    q = [t.lower() for t in terms]

    def wand_bounds():
        hits = imp["impacts"].filter(F.col("term").isin(q))
        tm = imp["term_max"].filter(F.col("term").isin(q))
        return hits, hits.join(F.broadcast(tm), "term").select(
            "doc_id", F.col("max_code").alias("b")
        )

    def blockmax_bounds():
        blocked, bmax = R.build_block_max(imp, "doc_id", block_size=8)
        hits = blocked.filter(F.col("term").isin(q))
        return hits, hits.join(
            F.broadcast(bmax.filter(F.col("term").isin(q))), ["term", "__blk"]
        ).select("doc_id", F.col("block_max").alias("b"))

    s_wand, s_bm = survivors(wand_bounds), survivors(blockmax_bounds)
    assert s_bm <= s_wand
    assert len(s_bm) < 400  # really prunes

    for v in imp.values():
        v.unpersist()
