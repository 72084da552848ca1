"""Dedup-family correctness: SimHash (vectorized UDF parity + banded
recall vs brute force), blocked embedding near-dup vs the crossJoin
oracle, MinHash planted-pair recall.

Round-1 verdict gaps closed here: simhash/minhash/embedding_near_dup had
zero pytest coverage, and 4-band SimHash silently missed hamming-4..6
pairs (pigeonhole needs n_bands > radius).
"""

import random

import pytest
from pyspark.sql import functions as F

from clawrag_spark.operators import dataset as DS
from clawrag_spark.operators.dataset import simhash64_py

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega red blue green"
).split()


def _mk_docs(n=90, seed=11):
    """Docs from a small vocab + planted near-copies (1-3 words changed)
    so pairwise SimHash distances cover the 0..6 range."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        if i % 3 == 2 and docs:
            base = docs[rng.randrange(len(docs))][1].split()
            for _ in range(rng.randint(1, 3)):
                base[rng.randrange(len(base))] = rng.choice(_WORDS)
            docs.append((i, " ".join(base)))
        else:
            docs.append((i, " ".join(rng.choice(_WORDS) for _ in range(40))))
    return docs


def _shingle_set(text):
    """Brute-force 3-token shingle set (the fixtures are lowercase words)."""
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_simhash_vectorized_matches_scalar(spark):
    texts = [
        None,
        "",
        "   ",
        "one",
        "one one one two",
        "The QUICK brown fox; jumps over 42 lazy dogs!",
        "über café naïve 日本語 mixed-in tokens 123abc",
        " ".join(["repeat"] * 500),
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", DS.simhash64(F.col("text")).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == simhash64_py(t), f"mismatch for {t!r}"


def test_simhash_near_dups_complete_vs_brute_force(spark):
    docs = _mk_docs()
    fp = {i: simhash64_py(t) for i, t in docs}
    max_h = 6
    expect = {
        (a, b)
        for a in fp
        for b in fp
        if a < b and _hamming(fp[a], fp[b]) <= max_h
    }
    # the fixture must actually exercise the round-1 bug radius (4..6)
    assert any(3 < _hamming(fp[a], fp[b]) <= 6 for a, b in expect), (
        "fixture has no pairs in the 4..6 hamming window"
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in DS.simhash_near_dups(df, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert got == expect


def test_simhash_bands_pigeonhole_guard():
    # radius 6 must select 8 bands; radius 3 still 4
    assert next(b for b in (4, 8, 16, 32) if b > 6) == 8
    assert next(b for b in (4, 8, 16, 32) if b > 3) == 4


def test_blocked_embedding_near_dup_matches_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in DS.embedding_near_dups(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): round(r["cos_sim"], 6)
        for r in DS.embedding_near_dups_blocked(
            emb, "vec_id", "embedding", threshold=0.45, n_blocks=8
        ).collect()
    }
    assert blocked.keys() == brute.keys()
    assert len(blocked) > 0, "vacuous: no near-dup pairs in fixture"
    for k, v in blocked.items():
        assert v == pytest.approx(brute[k], abs=1e-6)


def test_winnowing_guarantee_and_selectivity(spark):
    """Docs sharing a substring of length ≥ k+w−1 share ≥1 fingerprint;
    winnowing keeps far fewer hashes than all k-grams."""
    shared = "the quick brown fox jumps over the lazy dog repeatedly"
    rows = [
        (0, "prefix words here " + shared + " and a suffix"),
        (1, shared + " entirely different tail content follows now"),
        (2, "no overlap with anything else in this tiny corpus at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = DS.winnow_fingerprints(df, "doc_id", "text", k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    # selectivity: ~2/(w+1) of k-grams selected, never all of them
    n_grams_0 = len("".join(c for c in rows[0][1] if c.isalnum())) - 8 + 1
    assert len(by_doc[0]) < n_grams_0 * 0.75


def test_minhash_planted_pair_recall(spark):
    rng = random.Random(3)
    base = " ".join(rng.choice(_WORDS) for _ in range(60))
    variant = base.replace("alpha", "omega") if "alpha" in base else base + " omega"
    rows = [(0, base), (1, variant)] + [
        (i, " ".join(rng.choice(_WORDS) for _ in range(60))) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in DS.minhash_candidate_pairs(df, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs


def test_oph_signatures_shape_and_duplicate_identity(spark):
    """One-permutation signatures: full band coverage per doc (the
    densifier fills every slot), exact duplicates share EVERY band sig,
    and a single-shingle doc fills all slots with DISTINCT borrowed
    values (the rotation offset at work — without it all slots would
    alias and any two single-shingle docs would band-collide on every
    band whenever their lone hashes landed in the same bucket)."""
    rng = random.Random(7)
    base = " ".join(rng.choice(_WORDS) for _ in range(40))
    rows = [(0, base), (1, base), (2, "tiny three tokens")] + [
        (i, " ".join(rng.choice(_WORDS) for _ in range(40))) for i in range(3, 12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = DS.oph_band_signatures(df, "doc_id", "text", 16, 2).collect()
    by_doc: dict = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["sig"]
    assert all(len(v) == 8 for v in by_doc.values())  # 16/2 bands, none null
    assert by_doc[0] == by_doc[1]  # exact dup → identical signature
    # single-shingle doc: 16 slot values = 1 real + 15 offset-borrowed,
    # all distinct
    vals = [p for b in range(8) for p in by_doc[2][b].split("-")]
    assert len(set(vals)) == 16


def test_oph_planted_pair_recall(spark):
    """OPH banding finds the same planted near-dup the classic
    k-permutation path finds (drop-in candidate-generator check)."""
    rng = random.Random(3)
    base = " ".join(rng.choice(_WORDS) for _ in range(60))
    variant = base.replace("alpha", "omega") if "alpha" in base else base + " omega"
    rows = [(0, base), (1, variant)] + [
        (i, " ".join(rng.choice(_WORDS) for _ in range(60))) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = DS.oph_band_signatures(df, "doc_id", "text", 16, 2).alias("a")
    b = sigs.alias("b")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in sigs.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    }
    assert (0, 1) in pairs
    # the band join is selective, not all-pairs: unrelated random docs
    # must not flood the candidate set
    assert len(pairs) < 30


def test_oph_validates_band_divisibility(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        DS.oph_band_signatures(df, "doc_id", "text", n_buckets=10, rows_per_band=3)


def test_prefix_filter_join_equals_brute_force(spark):
    """The prefix-filter similarity join is EXACT: its output equals the
    brute-force all-pairs Jaccard >= 4/5 set, both membership and the
    jaccard values — the zero-recall-loss guarantee that distinguishes
    it from banded MinHash (where recall is 1-(1-j^r)^b < 1)."""
    docs = _mk_docs(n=120, seed=23)
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DS.prefix_filter_similarity_join(
            DS.shingle_sets(sdf, "doc_id", "text"), threshold_num=4, threshold_den=5
        ).collect()
    }

    sets = {i: _shingle_set(t) for i, t in docs}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and 5 * inter >= 4 * union:
                want[(a, b)] = round(inter / union, 6)
    assert len(want) >= 3, "fixture failed to plant >= 4/5-Jaccard pairs"
    assert got == want


def test_prefix_filter_join_prunes_candidates(spark):
    """The length filter + rarest-first prefixes must prune: candidate
    pairs reaching the verify stage stay well below all-pairs (the
    operator's whole point at 100 TB)."""
    docs = _mk_docs(n=120, seed=23)
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = DS.shingle_rows(sdf, "doc_id", "text")
    sets = sh.select(F.col("doc_id").alias("doc"), "shingle").distinct()
    sizes = sets.groupBy("doc").agg(F.count("*").alias("sz"))
    dfreq = sets.groupBy("shingle").agg(F.count("*").alias("tok_df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("tok_df", "shingle")
    ranked = (
        sets.join(dfreq, "shingle")
        .join(sizes, "doc")
        .select("doc", "shingle", "sz", F.row_number().over(w).alias("rn"))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr("(4 * sz + 4) div 5") + F.lit(1)
    )
    pa = prefix.select(F.col("doc").alias("doc_a"), "shingle", F.col("sz").alias("sz_a"))
    pb = prefix.select(F.col("doc").alias("doc_b"), "shingle", F.col("sz").alias("sz_b"))
    n_cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(5 * F.least("sz_a", "sz_b") >= 4 * F.greatest("sz_a", "sz_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    n_docs = sdf.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    assert n_cand < all_pairs / 4, (n_cand, all_pairs)


def test_simhash_max_hamming_validation(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        DS.simhash_near_dups(df, "doc_id", "text", max_hamming=32)


def test_blocked_embedding_near_dup_string_ids(spark):
    """Round-2 bug: cast(long) block keys nulled out string ids and the
    operator silently returned an empty frame.  xxhash64 block keys must
    give brute-force-identical pairs for string ids."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    vecs = np.vstack([base, base[:6] + 0.05 * rng.standard_normal((6, 16))])
    rows = [
        (f"doc-{i:04d}", [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    emb = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    brute = {
        (r["id_a"], r["id_b"])
        for r in DS.embedding_near_dups(emb, "doc_id", "embedding", 0.9).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in DS.embedding_near_dups_blocked(
            emb, "doc_id", "embedding", threshold=0.9, n_blocks=4
        ).collect()
    }
    assert len(brute) >= 6, "fixture failed to plant near-dup pairs"
    assert blocked == brute


@pytest.mark.parametrize("case", ["n_blocks_0", "empty_input"])
def test_blocked_embedding_near_dup_edge_inputs(spark, case):
    """``n_blocks < 1`` is rejected (a block key modulo 0 is null, so the
    grid would silently drop even a cos-1.0 pair); an empty embedding
    frame gives the (id_a, id_b, cos_sim) columns and no rows."""
    schema = "vec_id long, embedding array<float>"
    if case == "n_blocks_0":
        emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])], schema)
        with pytest.raises(ValueError, match="n_blocks"):
            DS.embedding_near_dups_blocked(emb, "vec_id", "embedding", n_blocks=0)
        one = DS.embedding_near_dups_blocked(emb, "vec_id", "embedding", n_blocks=1)
        assert [(r["id_a"], r["id_b"]) for r in one.collect()] == [(1, 2)]
    else:
        emb = spark.createDataFrame([], schema)
        out = DS.embedding_near_dups_blocked(emb, "vec_id", "embedding", 0.9)
        assert out.columns == ["id_a", "id_b", "cos_sim"]
        assert out.count() == 0


def test_ann_ivf_multiprobe_recall_with_sampled_training(spark, sf_dir):
    """Multi-probe IVF over sample-trained centroids: recall against the
    brute-force top-5 is monotone in n_probe, reaches 1.0 when every
    cell is probed (exhaustive ≡ brute force), and the true nearest
    neighbour is found already at n_probe=2.  (This fixture's `label`
    cells are uncorrelated with cosine neighbourhoods — the brute top-10
    spans 7 of 10 cells — so a fixed recall bound at low n_probe would
    test the data, not the operator.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.select("embedding").first()
    qv = [float(x) for x in first["embedding"]]
    from clawrag_spark.operators.retrieval import cosine

    qlit = F.array(*[F.lit(x) for x in qv]).cast("array<double>")
    brute = [
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            cosine(F.col("embedding").cast("array<double>"), qlit).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(5)
        .collect()
    ]
    n_cells = emb.select("label").distinct().count()

    def probe(n):
        return [
            r["vec_id"]
            for r in DS.ann_ivf_topk(
                emb, "vec_id", "embedding", "label", qv, 5,
                n_probe=n, train_sample_mod=4,
            ).collect()
        ]

    recalls = {n: len(set(probe(n)) & set(brute)) for n in (1, 2, n_cells)}
    assert brute[0] in probe(2), "true nearest neighbour missed at n_probe=2"
    assert recalls[1] <= recalls[2] <= recalls[n_cells]
    assert recalls[n_cells] == 5, "exhaustive probe must equal brute force"


class TestConnectedComponents:
    def test_clusters_match_transitive_closure(self, spark):
        from clawrag_spark.operators.dataset import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], ["doc_a", "doc_b"]
        )
        out = {
            r["n"]: r["cluster"]
            for r in connected_components(pairs, "doc_a", "doc_b").collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5}

    def test_path_graph_converges(self, spark):
        from clawrag_spark.operators.dataset import connected_components

        # worst case for min-propagation: a 8-node path, diameter 7
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10, 17)], ["doc_a", "doc_b"]
        )
        out = {
            r["n"]: r["cluster"]
            for r in connected_components(pairs, "doc_a", "doc_b").collect()
        }
        assert set(out.values()) == {10} and len(out) == 8

    def test_long_chain_converges_in_log_rounds(self, spark):
        from clawrag_spark.operators.dataset import connected_components

        # 1000-node path, diameter 999: plain min-propagation needs
        # ~999 rounds; pointer jumping must land it within 15
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(999)], ["doc_a", "doc_b"]
        ).coalesce(4)
        out = {
            r["n"]: r["cluster"]
            for r in connected_components(
                # threshold 0 forces the distributed loop — the chain
                # bound under test is the pointer-jumping one
                pairs, "doc_a", "doc_b", max_iter=15, small_edge_threshold=0
            ).collect()
        }
        assert set(out.values()) == {0} and len(out) == 1000

    def test_unconverged_raises_instead_of_splitting(self, spark):
        import pytest

        from clawrag_spark.operators.dataset import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(999)], ["doc_a", "doc_b"]
        ).coalesce(4)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(
                pairs, "doc_a", "doc_b", max_iter=2, small_edge_threshold=0
            )

    def test_small_path_matches_distributed(self, spark):
        """The driver union-find fast path must be bit-identical to the
        distributed pointer-jumping loop — same (n, cluster) rows, same
        min-label representative, same id type."""
        from clawrag_spark.operators.dataset import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1), (20, 21)],
            ["doc_a", "doc_b"],
        )
        small = connected_components(pairs, "doc_a", "doc_b")
        dist = connected_components(
            pairs, "doc_a", "doc_b", small_edge_threshold=0
        )
        assert small.schema == dist.schema
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, dist.collect())
        )

    def test_empty_pairs_empty_clusters(self, spark):
        from clawrag_spark.operators.dataset import connected_components

        pairs = spark.createDataFrame(
            [], "doc_a long, doc_b long"
        )
        out = connected_components(pairs, "doc_a", "doc_b")
        assert out.columns == ["n", "cluster"] and out.count() == 0

    def test_percolation_sweep_matches_per_threshold_cc(self, spark):
        """The one-pass Newman-Ziff sweep must produce the same
        per-threshold aggregates as running connected_components
        independently at each cutoff (both the collected union-find
        path and the distributed fallback)."""
        from clawrag_spark.operators.dataset import percolation_stats

        rng = random.Random(7)
        rows = [
            (a, a + rng.randint(1, 5), round(rng.uniform(0.7, 1.0), 6))
            for a in range(0, 400, 3)
        ]
        pairs = spark.createDataFrame(rows, ["doc_a", "doc_b", "jaccard"])
        ts = [0.8, 0.85, 0.9, 0.95]
        fast = percolation_stats(pairs, "doc_a", "doc_b", "jaccard", ts)
        dist = percolation_stats(
            pairs, "doc_a", "doc_b", "jaccard", ts, small_edge_threshold=0
        )
        f_rows = sorted(map(tuple, fast.collect()))
        d_rows = sorted(map(tuple, dist.collect()))
        assert f_rows == d_rows
        assert sorted(fast.columns) == sorted(dist.columns)
        # monotone in threshold: raising the cutoff only removes edges
        for lo, hi in zip(f_rows, f_rows[1:]):
            assert hi[1] <= lo[1] and hi[3] <= lo[3]


class TestPairRestrictionIdentity:
    def test_subset_pairs_equal_corpus_pairs_restricted(self, spark):
        """Per-doc MinHash signatures make 'pairs computed on a filtered
        corpus' identical to 'corpus-wide pairs with both endpoints in
        the filter' — the identity q_curation_funnel relies on to share
        the corpus-wide pair artifact across funnel and dedup queries."""
        import __spark_entry__ as e
        from pyspark.sql import functions as F

        docs = e._load(spark, "/root/testdata/sf0.001", "documents")
        survivors = docs.filter(F.col("n_chars") >= 100)

        on_subset = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in e._jaccard_verified_pairs(
                survivors, DS.shingle_rows(survivors, "doc_id", "text")
            ).collect()
        }
        ids = survivors.select("doc_id")
        restricted = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in e._jaccard_verified_pairs(
                docs, DS.shingle_rows(docs, "doc_id", "text")
            )
            .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
            .collect()
        }
        assert on_subset == restricted
        assert restricted  # non-vacuous: the corpus plants near-copies


class TestInt8Quantization:
    def test_round_trip_and_topk_recall(self, spark):
        import numpy as np

        from clawrag_spark.operators.dataset import (
            dequantize_int8,
            quantize_embeddings_int8,
        )
        from clawrag_spark.operators.retrieval import cosine

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = quantize_embeddings_int8(emb, "vec_id", "embedding")
        # max reconstruction error is scale/2 per component
        joined = emb.join(q, "vec_id").select(
            "vec_id", "embedding", dequantize_int8(F.col("codes"), F.col("scale")).alias("deq"), "scale"
        )
        row = joined.first()
        err = np.abs(np.array(row["embedding"], dtype=np.float64) - np.array(row["deq"]))
        assert err.max() <= row["scale"] / 2 + 1e-9

        # top-10 cosine recall on dequantized vs exact, query = vec 0
        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        qlit = F.array(*[F.lit(float(x)) for x in qv]).cast("array<double>")
        exact = [
            r["vec_id"]
            for r in emb.filter("vec_id != 0")
            .select("vec_id", cosine(F.col("embedding").cast("array<double>"), qlit).alias("c"))
            .orderBy(F.desc("c"), "vec_id").limit(10).collect()
        ]
        approx = [
            r["vec_id"]
            for r in joined.filter("vec_id != 0")
            .select("vec_id", cosine(F.col("deq"), qlit).alias("c"))
            .orderBy(F.desc("c"), "vec_id").limit(10).collect()
        ]
        assert len(set(exact) & set(approx)) >= 9


class TestPassageRemoval:
    """Exact substring-span removal (Lee et al. 2021 semantics)."""

    def test_first_occurrence_kept_later_cut(self, spark):
        from clawrag_spark.operators.dataset import remove_duplicate_passages

        shared = "The quick brown fox jumps over the lazy dog near the river."
        docs = spark.createDataFrame(
            [
                (1, "AAA unique one. " + shared + " tail one."),
                (2, "BBB different start. " + shared + " other tail."),
                (3, "no duplication at all here, totally fresh words."),
                (4, "self " + shared + " mid " + shared + " end"),
                (5, "tiny"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicate_passages(
                docs, "doc_id", "text", k=10, min_len=20
            ).collect()
        }
        assert len(out) == 5  # every input doc present, dup-free included
        # first occurrence corpus-wide survives byte-for-byte
        assert shared in out[1]["text_clean"] and out[1]["n_removed_chars"] == 0
        # later occurrences are cut, including both copies in doc 4
        assert shared not in out[2]["text_clean"]
        assert shared not in out[4]["text_clean"] and out[4]["n_dup_spans"] == 2
        assert out[2]["n_removed_chars"] >= len(shared)
        # untouched docs pass through unchanged
        assert out[3]["text_clean"].startswith("no duplication")
        assert out[5]["text_clean"] == "tiny" and out[5]["n_dup_spans"] == 0

    def test_short_incidental_overlap_stays(self, spark):
        from clawrag_spark.operators.dataset import remove_duplicate_passages

        # the shared run is 14 chars — >= k but < min_len: detected as a
        # dup island, then dropped by the min_len gate, so text survives
        docs = spark.createDataFrame(
            [(1, "alpha common-run-xy beta"), (2, "gamma common-run-xy delta")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicate_passages(
                docs, "doc_id", "text", k=10, min_len=20
            ).collect()
        }
        assert out[2]["n_dup_spans"] == 0
        assert out[2]["text_clean"] == "gamma common-run-xy delta"


class TestProductQuantization:
    """IVF-PQ: deterministic codebooks, ADC shortlist, exact re-rank."""

    def _brute_top(self, X, ids, q, k):
        import numpy as np

        cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
        return [int(i) for i in ids[np.lexsort((ids, -cos))][:k]]

    def test_codes_shape_and_determinism(self, spark):
        import numpy as np

        from clawrag_spark.operators.dataset import pq_encode, pq_train_codebooks

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        b1 = pq_train_codebooks(emb, "vec_id", "embedding", 8, 16)
        b2 = pq_train_codebooks(emb, "vec_id", "embedding", 8, 16)
        assert np.array_equal(b1, b2), "codebook training must be deterministic"
        assert b1.shape == (8, 16, 8)
        codes = pq_encode(emb, "vec_id", "embedding", b1).collect()
        assert len(codes) == 500
        assert all(len(r["codes"]) == 8 for r in codes)
        assert all(0 <= c < 16 for r in codes for c in r["codes"])

    def test_adc_shortlist_recall_and_exact_rerank(self, spark):
        import numpy as np

        from clawrag_spark.operators.dataset import pq_topk, pq_train_codebooks

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        X = np.array([r["embedding"] for r in rows], float)
        ids = np.array([r["vec_id"] for r in rows])
        q = [float(x) for x in X[ids == 0][0]]
        true10 = self._brute_top(X, ids, np.array(q), 10)

        books = pq_train_codebooks(emb, "vec_id", "embedding", 8, 32)
        # ADC-only recall@100 >= 0.9 on clusterless near-random vectors
        adc100 = {
            r["vec_id"]
            for r in pq_topk(emb, "vec_id", "embedding", books, q, 100).collect()
        }
        assert len(set(true10) & adc100) >= 9
        # with the shortlist covering, exact re-rank == brute force
        reranked = [
            r["vec_id"]
            for r in pq_topk(
                emb, "vec_id", "embedding", books, q, 10, rerank=200
            ).collect()
        ]
        assert reranked == true10

    def test_ivf_probe_composes_with_pq(self, spark):
        from clawrag_spark.operators.dataset import pq_topk, pq_train_codebooks

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [
            float(x)
            for x in emb.filter("vec_id = 0").first()["embedding"]
        ]
        books = pq_train_codebooks(emb, "vec_id", "embedding", 8, 32)
        # narrow probe: returns k rows with exact-cosine scores, sorted
        out = pq_topk(
            emb, "vec_id", "embedding", books, q, 5,
            rerank=50, cell_col="label", n_probe=2,
        ).collect()
        assert len(out) == 5
        sims = [r["cos_sim"] for r in out]
        assert sims == sorted(sims, reverse=True)
        # exhaustive probe covers every cell -> the query itself wins
        full = pq_topk(
            emb, "vec_id", "embedding", books, q, 5,
            rerank=200, cell_col="label", n_probe=1000,
        ).collect()
        assert full[0]["vec_id"] == 0 and abs(full[0]["cos_sim"] - 1.0) < 1e-9
        # narrow-probe results are a subset of the probed universe, so
        # each score can never beat the exhaustive winner
        assert all(r["cos_sim"] <= full[0]["cos_sim"] + 1e-12 for r in out)


def test_cross_candidates_match_full_corpus_cross_pairs(spark, sf_dir):
    """Incremental (batch-vs-store) candidates must equal the full
    self-join's pairs restricted to (new, committed) — the invariant
    that makes per-batch dedup sound: a doc's band signature depends
    only on its own shingles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_docs = docs.filter(F.col("doc_id") >= 350)
    committed = docs.filter(F.col("doc_id") < 350)
    store = DS.minhash_band_signatures(committed, "doc_id", "text", 4, 1)
    inc = {
        (r["new_id"], r["committed_id"])
        for r in DS.minhash_cross_candidates(
            new_docs, store, "doc_id", "text", 4, 1
        ).collect()
    }
    full = DS.minhash_candidate_pairs(docs, "doc_id", "text", 4, 1)
    want = {
        (r["doc_b"], r["doc_a"])
        for r in full.filter(
            (F.col("doc_b") >= 350) & (F.col("doc_a") < 350)
        ).collect()
    }
    assert inc == want and len(inc) > 0


def test_cross_candidates_is_equi_join(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store = DS.minhash_band_signatures(
        docs.filter(F.col("doc_id") < 350), "doc_id", "text", 4, 1
    )
    out = DS.minhash_cross_candidates(
        docs.filter(F.col("doc_id") >= 350), store, "doc_id", "text", 4, 1
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_small_path_matches_bfs_closure_randomized(spark):
    """20 seeded random graphs: the union-find fast path must equal
    an independent pure-Python transitive-closure reference."""
    import random

    from clawrag_spark.operators.dataset import connected_components

    rng = random.Random(404)
    for trial in range(20):
        n = rng.randint(2, 60)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(1, 80))
            }
        )
        # reference: BFS closure with min label
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for start in sorted(adj):
            if start in want:
                continue
            comp, queue = {start}, [start]
            while queue:
                x = queue.pop()
                for y in adj[x]:
                    if y not in comp:
                        comp.add(y)
                        queue.append(y)
            label = min(comp)
            for x in comp:
                want[x] = label
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
        )
        got = {
            r["n"]: r["cluster"]
            for r in connected_components(pairs, "doc_a", "doc_b").collect()
        }
        assert got == want, f"trial {trial} diverged"


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: Jaccard ~ |a|/|b|
    (below any sane threshold) but containment = 1.0.  The Jaccard
    prefix join must miss the pair, the containment join must return
    exactly the ordered (quote -> parent) pair, and brute force agrees."""
    from pyspark.sql import functions as F
    from clawrag_spark.operators.dataset import (
        containment_join,
        prefix_filter_similarity_join,
    )

    parent = " ".join(f"tok{i:03d}" for i in range(100))
    quote = " ".join(f"tok{i:03d}" for i in range(20))
    other = " ".join(f"oth{i:03d}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, parent), (2, quote), (3, other)], ["doc_id", "text"]
    )
    sets = DS.shingle_sets(docs, "doc_id", "text")
    jac = prefix_filter_similarity_join(
        sets, threshold_num=4, threshold_den=5
    ).collect()
    assert jac == []
    got = containment_join(sets, threshold_num=9, threshold_den=10).collect()
    assert len(got) == 1
    r = got[0]
    # 20 tokens -> 18 shingles, all inside the parent's 98
    assert (r["doc_a"], r["doc_b"]) == (2, 1)
    assert (r["sz_a"], r["sz_b"], r["inter"]) == (18, 98, 18)
    assert r["containment"] == 1.0


def test_containment_threshold_is_integer_exact(spark):
    """den*inter >= num*sz_a at the exact boundary: 9/10 with
    sz_a = 10, inter = 9 passes; inter = 8 fails — no float drift."""
    from clawrag_spark.operators.dataset import containment_join

    # doc 2 = 12-token prefix of doc 1 (10 shingles), with the last
    # token(s) mutated to control the intersection exactly
    base = [f"w{i:02d}" for i in range(30)]
    quote_pass = base[:11] + ["zzz"]          # shingles: 10, shared 9
    quote_fail = base[:10] + ["zzz", "yyy"]   # shingles: 10, shared 8
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(quote_pass)),
            (3, " ".join(quote_fail)),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in containment_join(
            DS.shingle_sets(docs, "doc_id", "text"),
            threshold_num=9,
            threshold_den=10,
        ).collect()
    }
    assert (2, 1) in got and got[(2, 1)] == 9
    assert (3, 1) not in got


def test_containment_join_equals_brute_force(spark):
    """Containment >= 9/10 is EXACT on a corpus with near-copies and
    planted half-doc quotes (every 10th doc's first 20 tokens, id +
    1000): membership and every output column equal the naive
    all-ordered-pairs computation."""
    docs = _mk_docs(n=120, seed=23)
    docs += [(1000 + i, " ".join(t.split()[:20])) for i, t in docs if i % 10 == 0]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): (r.sz_a, r.sz_b, r.inter, r.containment)
        for r in DS.containment_join(
            DS.shingle_sets(sdf, "doc_id", "text"), threshold_num=9, threshold_den=10
        ).collect()
    }
    sets = {i: _shingle_set(t) for i, t in docs}
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            inter = len(sa & sb)
            if a != b and 10 * inter >= 9 * len(sa):
                want[(a, b)] = (len(sa), len(sb), inter, round(inter / len(sa), 6))
    assert sum(1 for a, _ in want if a >= 1000) >= 12, "quotes not planted"
    assert sum(1 for a, b in want if a < 1000 and b < 1000) >= 3
    assert got == want


def test_set_similarity_joins_edge_inputs(spark):
    """Empty input gives 0 rows with the documented columns; a doc with
    fewer than 3 tokens has no shingle and drops out of both joins even
    when it duplicates another short doc."""
    empty = DS.shingle_sets(
        spark.createDataFrame([], "doc_id long, text string"), "doc_id", "text"
    )
    jac = DS.prefix_filter_similarity_join(empty)
    con = DS.containment_join(empty)
    assert jac.columns == ["doc_a", "doc_b", "jaccard"]
    assert con.columns == ["doc_a", "doc_b", "sz_a", "sz_b", "inter", "containment"]
    assert jac.collect() == [] and con.collect() == []

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "x y z w"), (4, "x y z w")],
        ["doc_id", "text"],
    )
    sets = DS.shingle_sets(docs, "doc_id", "text")
    assert [(r.doc_a, r.doc_b) for r in DS.prefix_filter_similarity_join(sets).collect()] == [(3, 4)]
    assert sorted(
        (r.doc_a, r.doc_b) for r in DS.containment_join(sets).collect()
    ) == [(3, 4), (4, 3)]


def test_set_similarity_joins_persist_nothing(spark):
    """The joins build one lazy plan over their input: collecting them
    leaves no persisted frame behind."""
    docs = spark.createDataFrame(_mk_docs(n=30, seed=5), ["doc_id", "text"])
    sets = DS.shingle_sets(docs, "doc_id", "text")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    DS.prefix_filter_similarity_join(sets).collect()
    DS.containment_join(sets).collect()
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize(
    "join, num, den",
    [
        ("prefix_filter_similarity_join", 1, 3),
        ("prefix_filter_similarity_join", 1, 0),
        ("containment_join", 1, 2),
    ],
)
def test_witness_filter_thresholds_rejected(spark, join, num, den):
    """The >= 2-witness candidate filter is exact only above 1/3
    (Jaccard) and 1/2 (containment): at those thresholds a pair sharing
    ONE shingle qualifies (sizes 2/2 -> Jaccard 1/3; |a| = 2 ->
    containment 1/2), so the joins refuse them instead of dropping it."""
    docs = spark.createDataFrame([(1, "a b c"), (2, "c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="exact only"):
        getattr(DS, join)(
            DS.shingle_sets(docs, "doc_id", "text"),
            threshold_num=num,
            threshold_den=den,
        )


def test_dedup_representatives_keep_best(spark):
    from pyspark.sql import functions as F

    from clawrag_spark.operators.dataset import dedup_representatives

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 2), (9, 7)],  # 9 is a singleton
        ["doc_id", "n_words"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["doc_a", "doc_b"])
    rows = {r["doc_id"]: r for r in dedup_representatives(
        docs, pairs, "doc_id", F.col("n_words")).collect()}
    # cluster {1,2,3,4}: best quality 9 is tied between 2 and 3 -> min id 2
    for d in (1, 2, 3, 4):
        assert rows[d]["rep_id"] == 2
    assert rows[2]["is_rep"] == 1 and rows[3]["is_rep"] == 0
    # singleton is its own representative
    assert rows[9]["rep_id"] == 9 and rows[9]["is_rep"] == 1


def test_embedding_sanity_verdicts(spark):
    """Every corrupt class gets its verdict, precedence respected
    (NaN in a wrong-dim row would be bad_dim first), healthy rows ok,
    and the relative band floor keeps a tight normalized population
    from flagging itself."""
    import math

    healthy = [(i, [0.5, 0.5, 0.5, 0.5]) for i in range(20)]  # norm 1.0
    rows = healthy + [
        (100, [float("nan"), 0.5, 0.5, 0.5]),     # non_finite
        (101, [0.0, 0.0, 0.0, 0.0]),              # zero_norm
        (102, [50.0, 0.0, 0.0, 0.0]),             # norm_outlier
        (103, [0.5, 0.5]),                        # bad_dim
        (104, [float("inf"), 0.5]),               # bad_dim wins over inf
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from clawrag_spark.operators import dataset as DS

    got = {
        r["vec_id"]: (r["dim"], r["norm"], r["verdict"])
        for r in DS.embedding_sanity(df, "vec_id", "embedding", 4).collect()
    }
    assert all(got[i][2] == "ok" for i in range(20))
    assert got[0][1] == pytest.approx(1.0)
    assert got[100][2] == "non_finite" and got[100][1] == -1.0
    assert got[101][2] == "zero_norm"
    assert got[102] == (4, 50.0, "norm_outlier")
    assert got[103][2] == "bad_dim"
    assert got[104][2] == "bad_dim"  # precedence: dim check first


def test_embedding_sanity_no_healthy_population(spark):
    """All-corrupt input must not crash the quartile step: every row
    still gets its hard-gate verdict and the outlier fence is vacuous."""
    from clawrag_spark.operators import dataset as DS

    rows = [
        (1, [float("nan"), 0.5]),
        (2, [0.0, 0.0]),
        (3, [0.5, 0.5, 0.5]),  # bad_dim for expected_dim=2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["verdict"]
        for r in DS.embedding_sanity(df, "vec_id", "embedding", 2).collect()
    }
    assert got == {1: "non_finite", 2: "zero_norm", 3: "bad_dim"}


def test_oph_jaccard_estimate_tracks_exact(spark):
    """Slot-agreement Ĵ on a planted near-dup: higher than any random
    pair's estimate and within the k=64 estimator's noise of the exact
    3-shingle Jaccard (σ ≈ √(J(1−J)/64) ≈ 0.06 at J≈0.9)."""
    rng = random.Random(11)
    base = " ".join(rng.choice(_WORDS) for _ in range(80))
    variant = base + " omega extra"
    rows = [(0, base), (1, variant)] + [
        (i, " ".join(rng.choice(_WORDS) for _ in range(80))) for i in range(2, 20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in DS.oph_estimate_jaccard(df, "doc_id", "text", 64, 2).collect()
    }
    assert (0, 1) in est

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    a, b = shingles(base), shingles(variant)
    exact = len(a & b) / len(a | b)
    assert abs(est[(0, 1)] - exact) < 0.2  # ~3σ at k=64
    assert all(v <= est[(0, 1)] for v in est.values())


def test_oph_jaccard_identical_docs_estimate_one(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),
         (1, "alpha beta gamma delta epsilon"),
         (2, "unrelated words entirely here now")],
        ["doc_id", "text"],
    )
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in DS.oph_estimate_jaccard(df, "doc_id", "text", 16, 2).collect()
    }
    assert est[(0, 1)] == 1.0


class TestCdcChunks:
    """Content-defined chunking: span tiling, size bounds, and the
    re-alignment property that motivates CDC over fixed blocking."""

    MN, AVG, MX = 32, 64, 192

    def _chunks(self, spark, rows):
        df = spark.createDataFrame(rows, ["url", "text"])
        out = DS.cdc_chunk_spans(
            df, "url", "text", self.MN, self.AVG, self.MX
        ).collect()
        by = {}
        for r in out:
            by.setdefault(r.url, []).append(r)
        for v in by.values():
            v.sort(key=lambda r: r.chunk_idx)
        return by

    def _base_text(self):
        return " ".join(
            "t%dq%d" % ((i * 7) % 53, (i * i) % 11) for i in range(160)
        )

    def test_spans_tile_text_within_bounds(self, spark):
        t = self._base_text()
        ch = self._chunks(spark, [("u", t), ("tiny", "abc"), ("e", "")])
        spans = ch["u"]
        assert spans[0].start == 0
        for a, b in zip(spans, spans[1:]):
            assert b.start == a.start + a.length  # gap/overlap-free
        assert spans[-1].start + spans[-1].length == len(t)
        # every chunk except possibly the last respects min/max
        for s in spans[:-1]:
            assert self.MN <= s.length <= self.MX
        assert spans[-1].length <= self.MX
        # reassembled text round-trips
        assert "".join(t[s.start:s.start + s.length] for s in spans) == t
        assert len(ch["tiny"]) == 1 and ch["tiny"][0].length == 3
        assert "e" not in ch  # empty text yields no chunks

    def test_insertion_realigns_chunk_hashes(self, spark):
        t = self._base_text()
        ch = self._chunks(spark, [("base", t), ("ins", "XYZ" + t)])
        base_h = {r.chunk_md5 for r in ch["base"]}
        ins_h = {r.chunk_md5 for r in ch["ins"]}
        # boundaries are content-local: after the first surviving cut
        # the chunk stream re-aligns, so most hashes are shared (a
        # fixed-offset blocker would share none)
        shared = len(base_h & ins_h)
        assert shared >= len(base_h) - 2
        assert shared < len(base_h) or len(ins_h) != len(base_h)

    def test_exact_copy_counts_as_duplicate(self, spark):
        t = self._base_text()
        ch = self._chunks(spark, [("a", t), ("b", t)])
        assert [r.chunk_md5 for r in ch["a"]] == [
            r.chunk_md5 for r in ch["b"]
        ]
        assert all(r.n_copies >= 2 for r in ch["a"])

    def test_zero_entropy_run_is_deterministic(self, spark):
        ch = self._chunks(spark, [("r", "z" * 500)])
        spans = ch["r"]
        # constant window hash: cuts land at min_size or max_size
        # strides, uniformly
        lens = {s.length for s in spans[:-1]}
        assert lens <= {self.MN, self.MX}
        assert sum(s.length for s in spans) == 500

    def test_rejects_bad_params(self, spark):
        df = spark.createDataFrame([("u", "x")], ["url", "text"])
        with pytest.raises(ValueError):
            DS.cdc_chunk_spans(df, "url", "text", 0, 64, 192)
        with pytest.raises(ValueError):
            DS.cdc_chunk_spans(df, "url", "text", 300, 64, 192)


class TestCdcNearDups:
    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, ["url", "text"])
        return {
            (r.url_a, r.url_b): r
            for r in DS.cdc_near_dups(
                df, "url", "text", 32, 64, 192, **kw
            ).collect()
        }

    def _base_text(self):
        return " ".join(
            "t%dq%d" % ((i * 7) % 53, (i * i) % 11) for i in range(160)
        )

    def test_copy_and_insertion_pair_up(self, spark):
        t = self._base_text()
        got = self._run(
            spark,
            [("a", t), ("b", t), ("ins", "XYZ" + t), ("other", "zz" * 40)],
            threshold=0.3,
        )
        assert got[("a", "b")].jaccard == 1.0
        assert got[("a", "b")].n_shared == got[("a", "b")].n_chunks_a
        assert ("a", "ins") in got and got[("a", "ins")].jaccard >= 0.3
        assert not any("other" in k for k in got)

    def test_hot_chunk_cap_drops_boilerplate_only_links(self, spark):
        # shared high-entropy prefix: CDC cuts it identically in every
        # doc, producing chunk hashes common to all six (mega-hot)
        boiler = self._base_text()[:300]
        rows = [
            (
                f"d{i}",
                boiler
                + " ".join(
                    "d%dw%dx%d" % (i, j, (j * j + 17 * i) % 89)
                    for j in range(60)
                ),
            )
            for i in range(6)
        ]
        uncapped = self._run(spark, rows, threshold=0.01)
        capped = self._run(spark, rows, threshold=0.01, hot_chunk_cap=3)
        # pairs linked solely by the mega-hot boilerplate chunk vanish
        assert len(capped) < len(uncapped)

    def test_plan_has_no_cartesian(self, spark):
        df = spark.createDataFrame([("u", "x" * 100)], ["url", "text"])
        plan = (
            DS.cdc_near_dups(df, "url", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


class TestSymspellPairs:
    def test_complete_vs_brute_force_distance1(self, spark):
        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        rows = [
            ("a", "crawl"), ("b", "crawI"), ("c", "craw"),
            ("d", "crawls"), ("e", "brawl"), ("f", "totally other"),
            ("g", "crawl"), ("h", "rawl"), ("i", "cawl"),
        ]
        df = spark.createDataFrame(rows, ["id", "s"])
        got = {
            (r.id_a, r.id_b): r.distance
            for r in DS.symspell_pairs(df, "id", "s").collect()
        }
        expect = {
            (x[0], y[0]): lev(x[1], y[1])
            for i, x in enumerate(rows)
            for y in rows[i + 1:]
            if lev(x[1], y[1]) <= 1
        }
        assert got == expect  # zero recall loss at distance <= 1
        assert got[("a", "g")] == 0  # exact dups included

    def test_rejects_multi_edit_budget(self, spark):
        df = spark.createDataFrame([("a", "x")], ["id", "s"])
        with pytest.raises(ValueError):
            DS.symspell_pairs(df, "id", "s", max_edits=2)

    def test_plan_expression_only_no_cartesian(self, spark):
        df = spark.createDataFrame([("a", "xy")], ["id", "s"])
        plan = (
            DS.symspell_pairs(df, "id", "s")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_lsh_recall_report_classification(spark):
    """The harness classifies planted near-dups / decoys exactly: one
    high-Jaccard pair (truth, and banded r=2 catches it), one disjoint
    pair (neither), and the counts reconcile (tp+fn = n_truth,
    tp+fp = n_cand)."""
    words = [f"w{i}" for i in range(40)]
    near_a = " ".join(words)
    near_b = " ".join(words[:36])  # ~0.87 shingle Jaccard vs near_a
    other = " ".join(f"z{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, other)], ["doc_id", "text"]
    )
    row = DS.lsh_recall_report(
        docs, "doc_id", "text", n_bands=4, rows_per_band=2, threshold=0.8
    ).collect()[0]
    assert row["n_truth"] == 1 and row["tp"] == 1 and row["fn"] == 0
    assert row["tp"] + row["fp"] == row["n_cand"]
    assert row["recall"] == 1.0
    # exact ground truth check: shingle sets of sizes 38 and 34 share 34
    j = 34 / (38 + 34 - 34)
    assert j > 0.8  # the planted pair really is above threshold


def test_lsh_recall_report_counts_misses(spark):
    """A pair above threshold that the banding CAN miss is still
    counted in n_truth — fn + tp always equals the exact truth count
    (here: verify bookkeeping on a borderline ~0.82 pair)."""
    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:35])  # 33/38 ≈ 0.868 — above threshold
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    row = DS.lsh_recall_report(
        docs, "doc_id", "text", n_bands=4, rows_per_band=2, threshold=0.8
    ).collect()[0]
    assert row["n_truth"] == 1
    assert row["tp"] + row["fn"] == 1


class TestMarginBitext:
    """CCMatrix margin criterion: planted translations are mined,
    hub vectors (high raw cosine to everything) are not."""

    def _sides(self, spark):
        import numpy as np

        rng_free = []
        # 6 well-separated source vectors (one-hot-ish in 8 dims)
        for i in range(6):
            v = [0.05] * 8
            v[i] = 1.0
            rng_free.append((i, [float(x) for x in v]))
        src = spark.createDataFrame(
            rng_free, "vec_id long, embedding array<double>"
        )
        tgt_rows = []
        # planted translations of sources 0..2 (slightly perturbed)
        for i in range(3):
            v = [0.05] * 8
            v[i] = 0.97
            v[(i + 1) % 8] += 0.02
            tgt_rows.append((100 + i, [float(x) for x in v]))
        # a hub: moderately similar to EVERY source
        tgt_rows.append((999, [0.5] * 8))
        # two unrelated targets
        tgt_rows.append((200, [0.0] * 7 + [1.0]))
        tgt_rows.append((201, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]))
        tgt = spark.createDataFrame(
            tgt_rows, "vec_id long, embedding array<double>"
        )
        return src, tgt

    def test_planted_mined_hub_suppressed(self, spark):
        src, tgt = self._sides(spark)
        got = {
            (r["src_id"], r["tgt_id"]): r["margin"]
            for r in DS.margin_bitext_pairs(
                src, tgt, "vec_id", "embedding", k=3, threshold=1.02
            ).collect()
        }
        for i in range(3):
            assert (i, 100 + i) in got, got
        # hubness suppression: raw forward-best would hand the hub to
        # ALL THREE mateless sources (it is their highest cosine);
        # mutual-best-by-margin admits it at most once
        from clawrag_spark.operators.retrieval import cosine

        raw = (
            tgt.alias("t")
            .join(F.broadcast(src.alias("s")))
            .select(
                F.col("s.vec_id").alias("src_id"),
                F.col("t.vec_id").alias("tgt_id"),
                cosine(F.col("s.embedding"), F.col("t.embedding")).alias("c"),
            )
        )
        from pyspark.sql import Window

        fwd = raw.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src_id").orderBy(F.desc("c"), "tgt_id")
            ),
        ).filter("rn = 1")
        raw_hub = fwd.filter(F.col("tgt_id") == 999).count()
        assert raw_hub == 3
        mined_hub = sum(1 for _, t in got if t == 999)
        assert mined_hub <= 1

    def test_mutuality_is_enforced(self, spark):
        src, tgt = self._sides(spark)
        out = DS.margin_bitext_pairs(
            src, tgt, "vec_id", "embedding", k=3, threshold=0.0
        ).collect()
        # each src and each tgt appears at most once (mutual best)
        srcs = [r["src_id"] for r in out]
        tgts = [r["tgt_id"] for r in out]
        assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))

    def test_k_validation(self, spark):
        src, tgt = self._sides(spark)
        with pytest.raises(ValueError, match="k must be"):
            DS.margin_bitext_pairs(src, tgt, "vec_id", "embedding", k=0)


class TestKCenterCoreset:
    def _pts(self, spark):
        # three tight clusters + one outlier in 4 dims
        rows = []
        for i, base in enumerate([(1.0, 0, 0, 0), (0, 1.0, 0, 0), (0, 0, 1.0, 0)]):
            for j in range(3):
                v = list(base)
                v[3] = 0.01 * j
                rows.append((10 * i + j, [float(x) for x in v]))
        rows.append((99, [0.0, 0.0, 0.0, 1.0]))  # outlier
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_covers_all_clusters_before_duplicates(self, spark):
        pts = self._pts(spark)
        picks = [
            r["vec_id"]
            for r in DS.kcenter_coreset(pts, "vec_id", "embedding", k=4)
            .orderBy("pick_rank").collect()
        ]
        # first four picks hit all four regions (one per cluster +
        # the outlier) before any within-cluster duplicate
        regions = {p // 10 if p != 99 else 9 for p in picks}
        assert len(regions) == 4, picks

    def test_matches_numpy_reference_and_deterministic(self, spark):
        import numpy as np

        pts = self._pts(spark)
        got = [
            (r["vec_id"], r["dist_at_pick"])
            for r in DS.kcenter_coreset(pts, "vec_id", "embedding", k=6)
            .orderBy("pick_rank").collect()
        ]
        rows = sorted(
            [(r["vec_id"], r["embedding"]) for r in pts.collect()]
        )
        ids = [r[0] for r in rows]
        mat = np.array([r[1] for r in rows])
        unit = mat / np.linalg.norm(mat, axis=1)[:, None]
        mind = 1.0 - unit @ unit[0]
        mind[0] = -1.0
        want = [(ids[0], 0.0)]
        for _ in range(5):
            b = int(np.argmax(np.round(mind, 9)))
            want.append((ids[b], float(mind[b])))
            mind = np.minimum(mind, 1.0 - unit @ unit[b])
            mind[b] = -1.0
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gi, gd), (wi, wd) in zip(got, want):
            assert abs(gd - wd) < 1e-12
        again = [
            r["vec_id"]
            for r in DS.kcenter_coreset(pts, "vec_id", "embedding", k=6)
            .orderBy("pick_rank").collect()
        ]
        assert again == [g[0] for g in got]

    def test_seed_and_validation(self, spark):
        pts = self._pts(spark)
        out = DS.kcenter_coreset(pts, "vec_id", "embedding", k=2, seed_id=99)
        first = out.orderBy("pick_rank").first()
        assert first["vec_id"] == 99 and first["dist_at_pick"] == 0.0
        with pytest.raises(ValueError, match="not in candidate"):
            DS.kcenter_coreset(pts, "vec_id", "embedding", k=2, seed_id=12345)
        with pytest.raises(ValueError, match="k must be"):
            DS.kcenter_coreset(pts, "vec_id", "embedding", k=0)

    def test_max_candidates_guard(self, spark):
        """The bounded-candidate contract is ENFORCED: a frame larger
        than max_candidates raises instead of silently collecting the
        corpus onto the driver; the probe is a limit(N+1), never a
        full collect."""
        pts = self._pts(spark)  # 10 rows
        with pytest.raises(ValueError, match="max_candidates"):
            DS.kcenter_coreset(
                pts, "vec_id", "embedding", k=2, max_candidates=5
            )
        # explicit override admits the same frame
        n = DS.kcenter_coreset(
            pts, "vec_id", "embedding", k=2, max_candidates=10
        ).count()
        assert n == 2
        with pytest.raises(ValueError, match="max_candidates must be"):
            DS.kcenter_coreset(
                pts, "vec_id", "embedding", k=2, max_candidates=0
            )

    def test_per_cell_union_equals_per_cell_driver_runs(self, spark):
        """kcenter_per_cell (one applyInPandas pass) ≡ running the
        driver kernel on each cell and unioning — same kernel by
        construction, pinned here end to end."""
        pts = self._pts(spark).withColumn(
            "cell", (F.col("vec_id") % 2).cast("int")
        )
        got = sorted(
            (r["cell"], r["vec_id"], r["pick_rank"], round(r["dist_at_pick"], 9))
            for r in DS.kcenter_per_cell(
                pts, "cell", "vec_id", "embedding", k=3
            ).collect()
        )
        want = []
        for cell in (0, 1):
            sub = pts.filter(F.col("cell") == cell)
            for r in DS.kcenter_coreset(sub, "vec_id", "embedding", k=3).collect():
                want.append(
                    (cell, r["vec_id"], r["pick_rank"], round(r["dist_at_pick"], 9))
                )
        assert got == sorted(want)

    def test_per_cell_cell_size_guard(self, spark):
        pts = self._pts(spark).withColumn("cell", F.lit(0))
        with pytest.raises(Exception, match="max_cell_rows"):
            DS.kcenter_per_cell(
                pts, "cell", "vec_id", "embedding", k=2, max_cell_rows=3
            ).collect()


def test_fellegi_sunter_weights_and_decisions(spark):
    """All-agree pair sums the three agree weights (match); all-
    disagree sums the disagree weights (non_match); weights are the
    Python log2 literals, so the expected values are computed here
    with the same math."""
    import math

    from pyspark.sql import functions as F

    from clawrag_spark.operators.dataset import fellegi_sunter_link

    left = spark.createDataFrame(
        [(1, "k", "x", 10.0), (2, "k", "y", 20.0)],
        "a_id long, blk string, a_name string, a_bal double",
    )
    right = spark.createDataFrame(
        [(101, "k", "x", 10.4), (102, "k", "zz", 99.0)],
        "b_id long, blk string, b_name string, b_bal double",
    )
    comparisons = [
        ("name", F.col("a_name") == F.col("b_name"), 0.95, 0.001),
        ("bal", F.abs(F.col("a_bal") - F.col("b_bal")) <= 1.0, 0.98, 0.05),
    ]
    got = {
        (r["a_id"], r["b_id"]): r
        for r in fellegi_sunter_link(
            left, right, ["blk"], comparisons,
            match_threshold=8.0, possible_threshold=0.0,
        ).collect()
    }
    assert len(got) == 4  # blocking join, 2x2 within the block
    w_match = round(math.log2(0.95 / 0.001) + math.log2(0.98 / 0.05), 6)
    w_miss = round(math.log2(0.05 / 0.999) + math.log2(0.02 / 0.95), 6)
    assert got[(1, 101)]["weight"] == w_match
    assert got[(1, 101)]["decision"] == "match"
    assert got[(2, 102)]["weight"] == w_miss
    assert got[(2, 102)]["decision"] == "non_match"
    assert got[(2, 101)]["agree_name"] is False


def test_dup_histogram_masses_conserved(spark):
    """Histogram doc/char masses sum to the corpus; char shares sum
    to 1; dup-level-2 rows carry exactly the planted duplicate pair."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    hist = entry_mod.q_dup_histogram(spark, sf).collect()
    docs = (
        entry_mod._load(spark, sf, "documents")
        .filter(F.col("doc_id") < 120)
        .agg(F.count("*"), F.sum("n_chars"))
        .collect()[0]
    )
    assert sum(r["n_docs"] for r in hist) == docs[0]
    assert sum(r["n_chars"] for r in hist) == docs[1]
    assert abs(sum(r["char_share"] for r in hist) - 1.0) < 1e-5
    assert all(r["n_docs"] == r["cluster_size"] * r["n_clusters"] for r in hist)


def test_triplet_mining_labels_respected(spark):
    """Every triplet's positive shares the anchor's label, the
    negative never does, and the positive is the argmax-cos same-label
    candidate (verified against a numpy brute force)."""
    import numpy as np

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    rows = entry_mod._load(spark, sf, "embeddings").collect()
    lab = {r["vec_id"]: r["label"] for r in rows}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    got = entry_mod.q_triplet_mining(spark, sf).collect()
    assert len(got) == sum(1 for v in lab if v % 20 == 0)
    for t in got:
        a = t["anchor_id"]
        assert lab[t["pos_id"]] == lab[a]
        assert lab[t["neg_id"]] != lab[a]
        va = vecs[a] / np.linalg.norm(vecs[a])
        best, best_cos = None, -2.0
        for c, vc in vecs.items():
            if c == a or lab[c] != lab[a]:
                continue
            cos = float(va @ (vc / np.linalg.norm(vc)))
            if cos > best_cos + 1e-12 or (
                abs(cos - best_cos) <= 1e-12 and (best is None or c < best)
            ):
                best, best_cos = c, cos
        assert t["pos_id"] == best
        assert abs(t["pos_cos"] - round(best_cos, 6)) <= 1e-6
        assert t["margin"] == round(
            (t["pos_cos"] - t["neg_cos"]), 6
        ) or abs(t["margin"] - (t["pos_cos"] - t["neg_cos"])) <= 2e-6


def test_label_outliers_planted_mislabeled(spark):
    """A vector planted far from its label's tight cluster gets the
    most negative z and the outlier flag; cluster members do not."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    rows = []
    # label 0: 20 tight vectors around e1, plus one planted at -e1
    for i in range(20):
        v = [1.0, 0.01 * i] + [0.0] * 62
        rows.append((i, v, 0))
    rows.append((99, [-1.0, 0.0] + [0.0] * 62, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    import clawrag_spark.operators.dataset as DS
    from clawrag_spark.operators.retrieval import cosine

    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", "label", dvec.alias("vec"))
    cents = DS.ivf_centroids(base, "vec_id", "vec", "label")
    scored = base.join(F.broadcast(cents), "label").select(
        "vec_id", cosine(F.col("vec"), F.col("centroid")).alias("cos_c")
    )
    m = scored.agg(
        F.avg("cos_c").alias("mu"), F.stddev_pop("cos_c").alias("sd")
    ).collect()[0]
    got = {
        r["vec_id"]: (r["cos_c"] - m["mu"]) / m["sd"]
        for r in scored.collect()
    }
    assert got[99] == min(got.values()) and got[99] < -2.0
    assert all(z > -2.0 for vid, z in got.items() if vid != 99)


def test_knn_shapley_reference_and_efficiency(spark):
    """The windowed suffix-sum recursion matches an independent numpy
    transcription of Jia et al.'s closed form, and satisfies the
    Shapley efficiency axiom: per test point the values sum to
    v(N) = mean of u over the top-K neighbors."""
    import numpy as np

    from clawrag_spark.operators.dataset import knn_shapley
    from pyspark.sql import functions as F

    rng = [(i, [((i * 37 + j * 11) % 13) / 13.0 - 0.5 for j in range(8)],
            i % 3) for i in range(30)]
    emb = spark.createDataFrame(
        rng, "vec_id long, embedding array<double>, label int"
    )
    test = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id", "embedding as vec", "label"
    )
    train = emb.filter(F.col("vec_id") >= 3).selectExpr(
        "vec_id", "embedding as vec", "label"
    )
    K = 4
    got = {
        r["vec_id"]: r["mean_shapley"]
        for r in knn_shapley(train, test, "vec_id", "vec", "label", k=K)
        .collect()
    }

    vecs = {i: np.array(v) for i, v, _ in rng}
    labs = {i: l for i, _, l in rng}
    per_train = {i: [] for i in labs if i >= 3}
    for t in range(3):
        vt = vecs[t] / np.linalg.norm(vecs[t])
        order = sorted(
            (i for i in labs if i >= 3),
            key=lambda i: (-float(vt @ (vecs[i] / np.linalg.norm(vecs[i]))), i),
        )
        n = len(order)
        u = [1.0 if labs[i] == labs[t] else 0.0 for i in order]
        s = [0.0] * n
        s[n - 1] = u[n - 1] / n
        for j in range(n - 2, -1, -1):
            s[j] = s[j + 1] + (u[j] - u[j + 1]) / max(j + 1, K)
        for rank, i in enumerate(order):
            per_train[i].append(s[rank])
        # efficiency: sum_i s_i == mean(u over top-K)
        assert abs(sum(s) - sum(u[:K]) / K) < 1e-9
    for i, vals in per_train.items():
        assert abs(got[i] - round(sum(vals) / len(vals), 6)) <= 1e-6, i


def test_cluster_cohesion_flags_chaining(spark):
    """A 3-node path (a-b, b-c) merged by CC is NOT a clique: density
    2/3 and the chained flag fires; a true pair is density 1."""
    from pyspark.sql import functions as F

    from clawrag_spark.operators.dataset import connected_components

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.85), (10, 11, 0.99)],
        "doc_a long, doc_b long, jaccard double",
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    members = cc.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count("*").alias("n_members")
    )
    edges = pairs.join(
        cc.select(F.col("n").alias("doc_a"), F.col("cluster").alias("cluster_id")),
        "doc_a",
    ).groupBy("cluster_id").agg(F.count("*").alias("n_edges"))
    denom = F.col("n_members") * (F.col("n_members") - 1)
    got = {
        r["cluster_id"]: r
        for r in members.join(edges, "cluster_id").select(
            "cluster_id", "n_members", "n_edges",
            (2 * F.col("n_edges") < denom).alias("chained"),
        ).collect()
    }
    assert got[1]["n_members"] == 3 and got[1]["chained"]
    assert got[10]["n_members"] == 2 and not got[10]["chained"]


def test_ivf_recall_monotone_and_percolation_monotone(spark):
    """Recall@10 is non-decreasing in n_probe (probing more cells can
    only add candidates); percolation component counts are monotone
    in the threshold (raising the cutoff only removes edges)."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    rec = {
        r["n_probe"]: r["recall_at_10"]
        for r in entry_mod.q_ivf_recall_sweep(spark, sf).collect()
    }
    assert rec[1] <= rec[2] <= rec[3]
    perc = sorted(
        entry_mod.q_percolation_curve(spark, sf).collect(),
        key=lambda r: r["threshold"],
    )
    for lo, hi in zip(perc, perc[1:]):
        assert hi["n_linked_docs"] <= lo["n_linked_docs"]
        assert hi["max_component"] <= lo["max_component"]
