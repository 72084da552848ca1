"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (SURVEY.md §2), these are the ops a
100 TB web-text corpus pipeline needs: near-duplicate detection at
several fidelity levels, approximate nearest-neighbour search, and text
quality signals.  Everything SQL-expressible is built-in expressions;
SimHash is the one vectorized pandas UDF (bit manipulation).

Scale design:
- exact dedup: hash groupBy — one shuffle on the 64-hex digest,
- MinHash-LSH: shingle → per-band min-hash → band-bucket equi-join;
  the self-join key is (band, signature) so candidate generation never
  compares all pairs,
- SimHash: 64-bit fingerprints; hamming-ball probing via b-bit band
  keys (split fingerprint into 4×16-bit bands; near-dups share ≥1 band
  for hamming distance ≤ 3 by pigeonhole),
- ANN: brute-force cosine is the exact baseline; the IVF variant
  probes only the nearest coarse cell(s) — at 10^12 scale the cells
  are Iceberg partitions and probing prunes the scan.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .retrieval import cosine, sql_tokens


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives in fewer partitions.

    Small parquet files scan as a single partition, which serializes
    every downstream md5/UDF-heavy projection onto one core (measured:
    the sf0.1 SimHash pass is 4.45 s on 1 partition vs 1.21 s after
    repartition(16), shuffle included).  On a production table the
    input is already well-partitioned and this is a no-op — the guard
    exists so compute-bound operators never inherit accidental
    single-partition layouts.  Only analysis happens eagerly here
    (``getNumPartitions`` on the unexecuted plan), no job.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode docs to (id, 3-token shingle) rows — the shared input of
    MinHash banding AND the exact Jaccard verify.  Tokenization + the
    shingle transform are the expensive scan-side work at corpus scale;
    callers that feed several consumers (candidate generation, gram
    hashing, signature stats) should persist + materialize THIS frame
    once so the subtree is computed exactly once instead of per
    consumer (a lazy persist referenced by concurrently-scheduled
    stages recomputes under the cache-miss race — measured 25 s vs 5 s
    cold for the sf0.1 Jaccard query)."""
    return (
        ensure_parallelism(docs)
        .select(F.col(id_col), sql_tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= 3)  # docs shorter than one shingle drop out
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                        F.element_at(F.col("toks"), i + 3),
                    ),
                )
            ).alias("shingle"),
        )
    )


def shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """DISTINCT (doc, shingle) rows — the input of the prefix-filter
    set-similarity joins (:func:`prefix_filter_similarity_join`,
    :func:`containment_join`).  Docs shorter than one shingle drop out."""
    return (
        shingle_rows(docs, id_col, text_col)
        .select(F.col(id_col).alias("doc"), "shingle")
        .distinct()
    )


def minhash_band_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 1,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, band) MinHash signature over 3-shingles.

    Each band's signature is the concatenation of ``rows_per_band``
    independent min-hashes (salted md5; lexicographic min of hex strings
    is order-isomorphic to numeric min, and md5 with distinct salt
    prefixes gives independent permutations of the shingle space).
    Banding theory: candidate probability is 1-(1-j^r)^b — r=1 is pure
    OR (high recall, floods candidates when random pairs share shingles),
    r≥2 keeps near-1 recall above j≈0.8 while collapsing the false-
    positive tail quadratically.

    Pass ``shingles`` (a cached :func:`shingle_rows` frame) to skip the
    tokenize+explode scan when the caller shares it across consumers.
    """
    if shingles is None:
        shingles = shingle_rows(docs, id_col, text_col)
    # One pass: all band×row minima as parallel aggregates (map-side
    # partial min, one shuffle of n_docs rows) instead of a ×n_bands
    # crossJoin of the exploded shingle stream; min is duplicate-
    # insensitive so no distinct is needed. Then pivot long with stack().
    def band_sig(b: int):
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{b}.{k}|"), F.col("shingle"))))
            for k in range(rows_per_band)
        ]
        return F.concat(*mins).alias(f"sig_{b}")

    wide = shingles.groupBy(id_col).agg(*[band_sig(b) for b in range(n_bands)])
    stack_args = ", ".join(f"{b}, sig_{b}" for b in range(n_bands))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack_args})").alias("band", "sig"),
    ).select(id_col, F.col("band").cast("int").alias("band"), "sig")


#: densification offset per rotation step — values stay < 2^60 + 15·2^56
#: < 2^63, so the offset arithmetic never overflows a signed BIGINT on
#: any engine.
_OPH_OFFSET = 1 << 56


def _oph_dense(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, f0..f{k-1}) densified one-permutation slot minima — the
    shared core of :func:`oph_band_signatures` (banding) and
    :func:`oph_estimate_jaccard` (slot-agreement estimation)."""
    if shingles is None:
        shingles = shingle_rows(docs, id_col, text_col)
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
    rows = shingles.select(
        F.col(id_col), (h % n_buckets).alias("__j"), h.alias("__h")
    )
    wide = rows.groupBy(id_col).agg(
        *[
            F.min(F.when(F.col("__j") == j, F.col("__h"))).alias(f"m{j}")
            for j in range(n_buckets)
        ]
    )
    return wide.select(
        F.col(id_col),
        *[
            F.coalesce(
                *[
                    F.col(f"m{(j + t) % n_buckets}") + F.lit(t * _OPH_OFFSET)
                    for t in range(n_buckets)
                ]
            ).alias(f"f{j}")
            for j in range(n_buckets)
        ],
    )


def oph_band_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 16,
    rows_per_band: int = 2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """One-permutation MinHash with rotation densification (Li, Owen &
    Zhang 2012; Shrivastava & Li 2014) — the scale-path signature
    generator: ONE md5 per shingle instead of ``n_bands ×
    rows_per_band`` salted md5s, with the hash's bucket
    ``h mod n_buckets`` acting as the permutation index.

    Empty buckets densify by circular borrowing from the next non-empty
    bucket to the right, PLUS ``t · _OPH_OFFSET`` for borrow distance
    ``t`` — without the offset two docs empty at slot j would collide
    whenever their j+1 minima collide, biasing sparse-doc collision
    rates upward (the 2014 paper's correction; the 2017 "optimal
    densification" variant hash-picks the borrow direction to cut
    variance further — rotation keeps the math expression-only and
    engine-portable).

    Returns (id, band, sig) — a drop-in replacement for
    ``minhash_band_signatures`` with ``n_bands = n_buckets //
    rows_per_band``.  Scale shape: the scan side computes exactly one
    md5 + one modulo per shingle (vs k hashes — at 10^12 docs × ~10³
    shingles the hashing is THE dominant dedup cost, so this is a ~k×
    scan-side saving); the per-doc aggregation is ``n_buckets``
    conditional mins with map-side partials (one row per doc through
    the shuffle, same as the classic path); densification and band
    assembly are pure projections.
    """
    if n_buckets % rows_per_band != 0:
        raise ValueError(
            f"n_buckets ({n_buckets}) must be divisible by rows_per_band"
            f" ({rows_per_band})"
        )
    dense = _oph_dense(docs, id_col, text_col, n_buckets, shingles)
    n_bands = n_buckets // rows_per_band
    sigs = dense.select(
        F.col(id_col),
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"f{b * rows_per_band + t}").cast("string")
                    for t in range(rows_per_band)
                ],
            ).alias(f"sig_{b}")
            for b in range(n_bands)
        ],
    )
    stack_args = ", ".join(f"{b}, sig_{b}" for b in range(n_bands))
    return sigs.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack_args})").alias("band", "sig"),
    ).select(id_col, F.col("band").cast("int").alias("band"), "sig")


def oph_estimate_jaccard(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 16,
    rows_per_band: int = 2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded-candidate pairs WITH their OPH-estimated Jaccard:
    Ĵ(a, b) = (# matching densified slots) / k — the unbiased
    one-permutation estimator the densification offset exists to keep
    honest (Shrivastava & Li 2014 Thm 1: matched borrowed slots
    estimate the same collision probability as real ones).

    The estimate needs no shingle-set verify pass, so a pipeline can
    threshold candidates (e.g. keep Ĵ ≥ 0.5 for the exact verify)
    before paying for gram arrays.  Scale shape: the banding self
    equi-join is the selective step (never all-pairs); slot vectors
    then join the candidate-sized pair set by id — k BIGINTs per side
    (k·8 bytes, constant — unlike gram arrays, which is the whole
    point vs `_jaccard_verified_pairs`); the slot comparison is a
    fixed-width projection.
    """
    dense = _oph_dense(docs, id_col, text_col, n_buckets, shingles).persist()
    dense.count()  # materialize once: all three consumers reuse it
    n_bands = n_buckets // rows_per_band
    sigs = dense.select(
        F.col(id_col),
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"f{i * rows_per_band + t}").cast("string")
                    for t in range(rows_per_band)
                ],
            ).alias(f"sig_{i}")
            for i in range(n_bands)
        ],
    )
    stack_args = ", ".join(f"{i}, sig_{i}" for i in range(n_bands))
    banded = sigs.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack_args})").alias("band", "sig"),
    )
    sa, sb = banded.alias("sa"), banded.alias("sb")
    cand = (
        sa.join(
            sb,
            (F.col("sa.band") == F.col("sb.band"))
            & (F.col("sa.sig") == F.col("sb.sig"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .select(
            F.col(f"sa.{id_col}").alias("doc_a"),
            F.col(f"sb.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    da = dense.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"f{j}").alias(f"a{j}") for j in range(n_buckets)],
    )
    db = dense.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"f{j}").alias(f"b{j}") for j in range(n_buckets)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_buckets)
    )
    out = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(n_buckets))).alias(
                "est_jaccard"
            ),
        )
        .localCheckpoint(eager=True)
    )
    dense.unpersist()
    return out


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 1,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band signature.

    The signature table (one row per doc x band — corpus-sized, never
    shingle-sized) is persisted and materialized before the self-join:
    Spark reuses no plan across self-join aliases, so without the cache
    BOTH sides recompute the full signature aggregate (8 salted md5s
    per shingle row — measured 3.6 s of the 3.9 s candidate step at
    sf0.1).  The candidate result is eagerly checkpointed (it is tiny
    by construction — banding exists to make it so) so the signature
    cache can be released before returning; every caller materializes
    candidates immediately anyway.
    """
    sigs = minhash_band_signatures(
        docs, id_col, text_col, n_bands, rows_per_band, shingles=shingles
    ).persist()
    sigs.count()
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    return cand


# ---------------------------------------- prefix-filter similarity joins

def _rarest_first_docs(sets: DataFrame, num: int, den: int) -> DataFrame:
    """One row per doc of a DISTINCT (doc, shingle) frame, its shingles
    in the global rarest-first order (ascending document frequency,
    then shingle in binary UTF-8 order — one order shared by every
    partition, so prefix filtering stays exact):

    - ``sz``: |doc|,
    - ``pre``: the first L+1 ranked shingles, L = sz - ceil(t*sz) + 1
      the classic prefix length at t = num/den (integer math),
    - ``shs``: every shingle, ranked,
    - ``ghs``: ``unhex(md5(shingle))`` per shingle — the 16-byte hash
      array the verify intersects.

    Two shuffles: the document frequency is a ``count`` window on
    ``shingle`` (the input is distinct, so it counts docs), and one
    per-doc aggregate sorts ``(tok_df, shingle)`` structs — a struct
    sort compares fields in order, exactly ``ORDER BY tok_df, shingle``.
    """
    from pyspark.sql import Window

    lst = (
        sets.select(
            "doc",
            "shingle",
            F.count(F.lit(1)).over(Window.partitionBy("shingle")).alias("tok_df"),
        )
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.struct("tok_df", "shingle"))).alias("lst"))
    )
    # bigint: num * size would wrap an int past 2^31
    pre_len = F.expr(f"size(lst) - ({num}L * size(lst) + {den - 1}) div {den} + 2")
    return lst.select(
        "doc",
        F.size("lst").cast("long").alias("sz"),
        F.slice(F.col("lst.shingle"), 1, pre_len).alias("pre"),
        F.col("lst.shingle").alias("shs"),
        F.transform("lst", lambda s: F.unhex(F.md5(s["shingle"]))).alias("ghs"),
    )


def _side(per: DataFrame, side: str, shingles: str) -> DataFrame:
    """(doc_<side>, sz_<side>, shingle) rows exploded from a
    :func:`_rarest_first_docs` array column."""
    return per.select(
        F.col("doc").alias(f"doc_{side}"),
        F.col("sz").alias(f"sz_{side}"),
        F.explode(shingles).alias("shingle"),
    )


def _attach_intersections(cand: DataFrame, per: DataFrame) -> DataFrame:
    """``cand`` (doc_a, doc_b, sz_a, sz_b) plus ``inter`` = |a∩b|.

    One row per PAIR carrying both docs' 16-byte hash ARRAYS, attached
    by two shuffled equi-joins on the doc ids (no corpus broadcast) and
    intersected in-projection — never the exploded cand ⋈ hash-row join
    whose intermediate is Σ_cand |a| rows (181M rows / 3.6 GB through
    the exchange at sf1.0 for the Jaccard join).  Hash sets stay
    distinct per doc (unhex∘md5 is injective on hex), so
    size(array_intersect) is exactly |a∩b| up to md5 collisions.

    SHUFFLE_HASH: a sort-merge join would SORT the 1 KB array-payload
    rows on each attach (measured 232 µs/row); hash-probing streams
    them through untouched.  The build side is the per-doc array table
    — corpus-bounded rows, hash-partitioned, never broadcast.
    """
    return (
        cand.join(
            per.select(F.col("doc").alias("doc_a"), F.col("ghs").alias("gha"))
            .hint("shuffle_hash"),
            "doc_a",
        )
        .join(
            per.select(F.col("doc").alias("doc_b"), F.col("ghs").alias("ghb"))
            .hint("shuffle_hash"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("gha", "ghb")).alias("inter"),
        )
    )


def prefix_filter_similarity_join(
    sets: DataFrame,
    *,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """All-pairs set-similarity join via prefix filtering — an EXACT
    (zero-recall-loss) alternative to MinHash-LSH candidate generation
    (AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08)
    for thresholds t = threshold_num/threshold_den > 1/3.

    ``sets`` is a DISTINCT (doc, shingle) frame — :func:`shingle_sets`
    builds it from documents.  Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b.

    Precondition (raises ``ValueError`` otherwise): ``threshold_den > 0``
    and ``3 * threshold_num > threshold_den``.  The candidate filter
    keeps only pairs with >= 2 shared prefix shingles; at t <= 1/3 a
    qualifying pair of two >= 2-shingle docs may share only ONE shingle
    (sizes 2/2, overlap 1: Jaccard 1/3) and would be dropped.

    Guarantee: if two docs' 3-shingle sets have Jaccard >= t, then under
    any global token order their (|d| - ceil(t*|d|) + 1)-length prefixes
    share at least one token — so an equi-join on prefix tokens finds
    EVERY qualifying pair, unlike banded MinHash whose recall is
    1-(1-j^r)^b < 1.  Ordering tokens rarest-first (ascending document
    frequency) makes the prefixes maximally selective: a pair is joined
    through its rarest shared shingle, never through stopword-grade ones.

    Threshold is a rational threshold_num/threshold_den so every
    comparison is INTEGER math (`ceil(t*n)` = `(num*n + den-1) div den`,
    verify `den*inter >= num*union`) — bit-identical across engines,
    no float-boundary drift against the DuckDB oracle.

    Scale shape:
    - rarest-first rank: :func:`_rarest_first_docs` — one document-
      frequency window shuffle on shingle, one per-doc sorted aggregate,
    - candidates: prefix-row self-equi-join on shingle + the length
      filter den*min(|a|,|b|) >= num*max(|a|,|b|) — never all pairs;
      prefixes are ~(1-t)*|d| tokens so the join input is a fifth of
      the corpus at t=0.8,
    - verify: :func:`_attach_intersections` — per-pair 16-byte hash
      arrays, ``size(array_intersect)``.
    """
    if threshold_den <= 0 or 3 * threshold_num <= threshold_den:
        raise ValueError(
            "prefix_filter_similarity_join is exact only for thresholds "
            f"above 1/3, got {threshold_num}/{threshold_den}"
        )
    per = _rarest_first_docs(sets, threshold_num, threshold_den)
    # Extended prefixes (classic length + 1) for the multi-witness
    # filter below: for Jaccard >= t the overlap is >= ceil(t*sz_a), so
    # the SECOND-rarest shared token g2 has at most
    # 1 + (sz_a - overlap) <= sz_a - ceil(t*sz_a) + 1 = L_a tokens of a
    # rarer than it (the rarest shared token plus a-only misses), i.e.
    # rank_a(g2) <= L_a + 1 — and symmetrically for b.  Any qualifying
    # pair with overlap >= 2 (true whenever min(sz) >= 2 at t > 1/3,
    # the enforced precondition)
    # therefore shares at least TWO tokens of the extended
    # prefix-by-prefix join; counting witnesses per pair and requiring
    # >= 2 removes the coincidental single-shared-shingle fan-out
    # before the verify — exact, zero recall loss (the count replaces
    # the same-shuffle `.distinct()`).
    cand = (
        _side(per, "a", "pre")
        .join(_side(per, "b", "pre"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.lit(threshold_den) * F.least("sz_a", "sz_b")
            >= F.lit(threshold_num) * F.greatest("sz_a", "sz_b")
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("__wit"))
        .filter((F.col("__wit") >= 2) | (F.least("sz_a", "sz_b") < 2))
        .select("doc_a", "doc_b", "sz_a", "sz_b")
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        _attach_intersections(cand, per)
        .filter(F.lit(threshold_den) * F.col("inter") >= F.lit(threshold_num) * union_sz)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / union_sz, 6).alias("jaccard"),
        )
    )


def containment_join(
    sets: DataFrame,
    *,
    threshold_num: int = 9,
    threshold_den: int = 10,
) -> DataFrame:
    """Exact set-CONTAINMENT join for t > 1/2: ordered pairs (a, b) with
    C(a, b) = |shingles(a) ∩ shingles(b)| / |shingles(a)| >= t — the
    asymmetric near-dup relation Jaccard misses (a short doc quoted
    wholesale inside a long one has Jaccard ~ |a|/|b| but containment
    ~ 1; SlimPajama-style pipelines drop the contained copy, and
    MinHash-LSH cannot generate these candidates because banding
    recall decays with the SIZE RATIO, not the overlap).

    ``sets`` is a DISTINCT (doc, shingle) frame — :func:`shingle_sets`
    builds it from documents.

    Prefix filtering adapted to containment (zero recall loss): if
    C(a,b) >= t then a must share a shingle with b inside a's first
    |a| - ceil(t·|a|) + 1 rarest-first shingles — so the candidate
    join is a's PREFIX rows against b's FULL shingle rows, never
    all-pairs.  The b side carries no prefix (containment puts no
    lower bound on b's extra mass); the only symmetric prune is
    |b| >= t·|a| (b must have room for the required intersection).
    All thresholds are integer math (den·inter >= num·|a|) —
    bit-identical across engines; the DuckDB oracle is the NAIVE
    all-pairs computation, so an oracle match PROVES the prefix
    filter lost nothing.

    Scale shape: the rarest-first rank of
    :func:`prefix_filter_similarity_join` (:func:`_rarest_first_docs`,
    whose per-doc rows also carry b's full ranked list), then
    prefix(a) ⋈ full(b) on the shingle key — prefix tokens are each
    doc's rarest, so the fan-out per row is the LOW tail of the df
    distribution — and the same per-pair hash-array verify
    (:func:`_attach_intersections`).

    Precondition (raises ``ValueError`` otherwise): ``threshold_den > 0``
    and ``2 * threshold_num > threshold_den``.  The candidate filter
    keeps only pairs with >= 2 shared shingles when |a| >= 2; at
    t <= 1/2 a qualifying pair may share only ONE shingle (|a| = 2,
    overlap 1: containment 1/2) and would be dropped.

    Returns ordered (doc_a, doc_b, sz_a, sz_b, inter, containment):
    doc_a is the contained (smaller) side; exact duplicates appear in
    both directions, as in the naive definition.
    """
    if threshold_den <= 0 or 2 * threshold_num <= threshold_den:
        raise ValueError(
            "containment_join is exact only for thresholds above 1/2, "
            f"got {threshold_num}/{threshold_den}"
        )
    per = _rarest_first_docs(sets, threshold_num, threshold_den)
    # Multi-witness (prefix-count / CPMerge-style) candidate filter —
    # exact, zero recall loss: a qualifying pair misses at most
    # sz_a − ceil(t·sz_a) = L−1 of a's tokens from b, so among a's
    # first L+1 rarest tokens (one more than the classic prefix) at
    # least TWO are shared whenever sz_a ≥ 2 and t > 1/2 (the enforced
    # precondition: then ceil(t·sz_a) ≥ 2; for sz_a = 1 the single
    # token must be shared and one witness suffices).  Counting join
    # witnesses per pair and requiring ≥ 2 removes the dominant
    # single-coincidental-shared-shingle fan-out (measured 13.1M → the
    # verified tail at sf1.0) before any verify work; the count
    # replaces the same-shuffle `.distinct()`.
    cand = (
        _side(per, "a", "pre")
        .join(_side(per, "b", "shs"), "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(
            F.lit(threshold_den) * F.col("sz_b")
            >= F.lit(threshold_num) * F.col("sz_a")
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("__wit"))
        .filter((F.col("__wit") >= 2) | (F.col("sz_a") < 2))
        .select("doc_a", "doc_b", "sz_a", "sz_b")
    )
    return (
        _attach_intersections(cand, per)
        .filter(
            F.lit(threshold_den) * F.col("inter")
            >= F.lit(threshold_num) * F.col("sz_a")
        )
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            "inter",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
        )
    )


# ------------------------------------------------------------- SimHash

def simhash64_py(t: str | None) -> int:
    """Reference scalar SimHash (shared oracle for tests): md5(token) →
    64-bit value; every token *occurrence* contributes ±1 per bit;
    fingerprint bit = sign(sum).  Returned as signed 64-bit (Spark Long)."""
    import re

    if not t:
        return 0
    acc = [0] * 64
    for tok in re.findall(r"[a-z0-9]+", t.lower()):
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if acc[bit] > 0:
            out |= 1 << bit
    return out - (1 << 64) if out >= (1 << 63) else out


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash fingerprint — numpy-vectorized pandas UDF.

    Identical output to ``simhash64_py`` (pytest-pinned parity), but the
    per-token 64-iteration Python bit loop is replaced by one
    ``unpackbits`` matrix per document: md5 the *unique* tokens, unpack
    their top-8 bytes into a (n_unique × 64) bit matrix, and accumulate
    ``(2·bits−1)ᵀ · counts`` so each occurrence still contributes ±1.
    Round-1 bench: 15.8 s → this path is ~20× less Python work.
    """
    import re
    import numpy as np

    token_re = re.compile(r"[a-z0-9]+")
    # tokens repeat heavily ACROSS documents in a batch — memoize the
    # 8-byte md5 prefix per distinct token (same digest either way;
    # measured ~110 CPU-s of hashlib calls at sf1.0 before the memo)
    memo: dict[str, bytes] = {}

    def hash8(tok: str) -> bytes:
        h = memo.get(tok)
        if h is None:
            h = hashlib.md5(tok.encode("utf-8")).digest()[:8]
            memo[tok] = h
        return h

    def one(t: str | None) -> int:
        if not t:
            return 0
        toks = token_re.findall(t.lower())
        if not toks:
            return 0
        uniq: dict[str, int] = {}
        for tok in toks:
            uniq[tok] = uniq.get(tok, 0) + 1
        raw = np.frombuffer(
            b"".join(hash8(tok) for tok in uniq),
            dtype=np.uint8,
        ).reshape(-1, 8)
        # unpackbits is MSB-first per byte; with big-endian byte order the
        # resulting column j is bit (63 - j) of the integer fingerprint.
        bits = np.unpackbits(raw, axis=1).astype(np.int64)
        counts = np.fromiter(uniq.values(), dtype=np.int64, count=len(uniq))
        acc = (2 * bits - 1).T @ counts  # (64,) — sign sums, bit 63-j at row j
        out = 0
        for j in np.nonzero(acc > 0)[0]:
            out |= 1 << (63 - int(j))
        return out - (1 << 64) if out >= (1 << 63) else out

    return pd.Series([one(t) for t in text], dtype="int64")


def hamming64(col_a, col_b):
    """Hamming distance between two signed-64-bit fingerprint columns."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def hamming_band_pairs(
    hashed: DataFrame, id_col: str, hash_col: str, max_hamming: int
) -> DataFrame:
    """Pairs within Hamming ``max_hamming`` of a 64-bit fingerprint
    column: band split → ONE self-equi-join → exact bit_count verify.

    Generic over the fingerprint source — SimHash text prints and
    perceptual image hashes share this exact shape.  The band count is
    derived from the radius: completeness needs ``n_bands >
    max_hamming`` (pigeonhole), so radius 3 → 4 bands, radius 4-7 → 8
    bands, radius 8-15 → 16 bands.

    One shuffle: the n_bands band keys are posexploded into a long
    (id, hash, band, key) frame and self-equi-joined ONCE on
    (band, key) — round-2 shape was an n_bands-way union of per-band
    self-joins, ~n_bands× the necessary exchange volume.
    """
    if not 0 <= max_hamming < 32:
        raise ValueError(
            f"max_hamming must be in [0, 32) (got {max_hamming}): 32 bands "
            "of a 64-bit fingerprint are 2-bit keys and the pigeonhole "
            "guarantee needs n_bands > max_hamming with 64 % n_bands == 0"
        )
    n_bands = next(b for b in (4, 8, 16, 32) if b > max_hamming)
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = hashed.select(
        F.col(id_col),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bk"),
    )
    # one self-equi-join on the exploded (band, key) pairs — round-2
    # shape was an n_bands-way union of per-band joins (~8x the exchange
    # volume).  A groupBy-collect_list bucket-and-pair variant (one scan,
    # zero joins) was measured SLOWER here (3.2 s vs 2.0 s at sf0.1,
    # 16 cores): the array sort/slice/explode machinery costs more than
    # the second fingerprint evaluation, and buffering whole buckets as
    # arrays is also the worse shape at scale.
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("_h").alias("sh_a"), "band", "bk"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("_h").alias("sh_b"), "band", "bk"
    )
    return (
        a.join(b, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dups(
    docs: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: fingerprint → band join → hamming verify
    (the banding/join shape lives in :func:`hamming_band_pairs`)."""
    hashed = ensure_parallelism(docs).select(
        F.col(id_col), simhash64(F.col(text_col)).alias("simhash")
    )
    return hamming_band_pairs(hashed, id_col, "simhash", max_hamming)


# ------------------------------------------------------------------ ANN

def ivf_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Element-wise mean vector per coarse cell (IVF codebook).

    Built-in only: posexplode → groupBy(cell, pos) → avg → re-assemble
    ordered with array_agg over a sorted struct.

    ``train_sample_mod=m`` trains each centroid on the deterministic
    ~1/m sample ``pmod(xxhash64(id), m) == 0`` — at 10⁹ vectors the
    full posexplode is an n_vecs×dim row shuffle, and codebooks are
    conventionally trained on a sample then used to assign everything
    (the assignment below still scans all rows).  Cells whose sample is
    empty get no centroid and are never probed; pick m ≪ min cell size.
    """
    src = emb
    if train_sample_mod is not None and train_sample_mod > 1:
        src = emb.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod)) == 0
        )
    exploded = src.select(
        F.col(cell_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    means = exploded.groupBy(cell_col, "pos").agg(F.avg("val").alias("m"))
    return (
        means.groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )


def ann_ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """IVF ANN: rank coarse cells by centroid cosine, search only the
    top ``n_probe`` cells.  At warehouse scale the cell is a partition
    key, so the probe prunes the scan to n_probe partitions.
    ``n_probe > 1`` trades scan width for recall; ``train_sample_mod``
    trains centroids on a deterministic sample (see ivf_centroids)."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    cents = ivf_centroids(emb, id_col, vec_col, cell_col, train_sample_mod)
    best_cells = (
        cents.select(
            F.col(cell_col),
            cosine(F.col("centroid"), qlit).alias("cell_sim"),
        )
        .orderBy(F.desc("cell_sim"), F.col(cell_col))
        .limit(n_probe)
        .select(cell_col)
    )
    return (
        emb.join(F.broadcast(best_cells), cell_col)
        .select(
            F.col(id_col),
            cosine(F.col(vec_col).cast("array<double>"), qlit).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------ product quantization

def pq_train_codebooks(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m_subspaces: int = 8,
    k_codes: int = 16,
    sample_mod: int | None = None,
    iters: int = 8,
):
    """Train product-quantization codebooks: split the vector into
    ``m_subspaces`` contiguous subvectors, run Lloyd's k-means with
    ``k_codes`` centroids per subspace on a DETERMINISTIC sample
    collected to the driver (FAISS-style: codebooks train on a bounded
    in-memory sample — pick ``sample_mod`` so the sample is ≤ ~100k
    rows at corpus scale — then encode everything distributed).

    Determinism: the sample is ``pmod(xxhash64(id), sample_mod) == 0``,
    sorted by id; initial centroids are evenly-spaced sample rows;
    ties in assignment break to the lowest code.  Same data → same
    codebooks on every run.

    Returns a numpy array of shape (m_subspaces, k_codes, d/m).
    """
    import numpy as np

    src = emb
    if sample_mod is not None and sample_mod > 1:
        src = emb.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    rows = src.select(F.col(id_col), F.col(vec_col)).collect()
    rows.sort(key=lambda r: r[0])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m_subspaces:
        raise ValueError(f"dim {d} not divisible by {m_subspaces} subspaces")
    dsub = d // m_subspaces
    k = min(k_codes, n)
    books = np.zeros((m_subspaces, k_codes, dsub))
    for m in range(m_subspaces):
        S = X[:, m * dsub : (m + 1) * dsub]
        cents = S[np.linspace(0, n - 1, k).astype(int)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cents[j] = S[mask].mean(axis=0)
        books[m, :k] = cents
        if k < k_codes:           # degenerate tiny input: repeat last
            books[m, k:] = cents[-1]
    return books


def pq_encode(
    emb: DataFrame, id_col: str, vec_col: str, codebooks
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the
    nearest codebook centroid (L2).  One vectorized Arrow-batched
    pandas UDF — the codes column is m_subspaces bytes per vector
    (64-dim float32 → 8 bytes: 32× smaller at rest), the storage story
    that makes a 10^12-vector ANN index fit a cluster.

    Returns (id_col, codes array<tinyint>).
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, k, dsub = books.shape
    # ||x - c||² = ||x||² − 2x·c + ||c||²; per-row ||x||² is constant
    # across codes, so argmin needs only the GEMM term and ||c||²
    cnorm = (books**2).sum(axis=2)  # (M, K)

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def _encode(col: pd.Series) -> pd.Series:
        X = np.array(col.tolist(), dtype=np.float64)
        n = X.shape[0]
        codes = np.zeros((n, m_sub), dtype=np.int8)
        for m in range(m_sub):
            S = X[:, m * dsub : (m + 1) * dsub]
            scores = cnorm[m][None, :] - 2.0 * (S @ books[m].T)  # (n, K)
            codes[:, m] = scores.argmin(axis=1)
        return pd.Series(list(codes))

    return emb.select(F.col(id_col), _encode(F.col(vec_col)).alias("codes"))


def pq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks,
    query_vec: list[float],
    k: int,
    rerank: int = 0,
    cell_col: str | None = None,
    n_probe: int = 0,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """IVF-PQ top-k: optional coarse-cell probe (IVF partition prune),
    then asymmetric-distance scoring over PQ codes — approx cosine
    from per-subspace inner-product lookup tables, Σ_m <q_m, c[m,code]>
    over Σ_m ||c[m,code]||² — then optional EXACT re-rank of the top
    ``rerank`` shortlist against the stored vectors.

    Scale shape: the scan reads codes (m bytes/vector) instead of raw
    vectors; with ``cell_col``/``n_probe`` only the probed cells scan
    at all; only the ``rerank`` shortlist rows ever touch float
    vectors.  Returns (id_col, cos_sim) — exact cosine when rerank>0,
    ADC-approx otherwise.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m_sub, n_codes, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut_ip = np.stack(
        [books[m] @ q[m * dsub : (m + 1) * dsub] for m in range(m_sub)]
    )  # (M, K) inner products
    lut_n2 = (books**2).sum(axis=2)  # (M, K) centroid sq-norms
    qnorm = float(np.sqrt((q**2).sum()))

    base = emb
    if cell_col is not None and n_probe > 0:
        cents = ivf_centroids(emb, id_col, vec_col, cell_col, train_sample_mod)
        qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
        best_cells = (
            cents.select(F.col(cell_col), cosine(F.col("centroid"), qlit).alias("s"))
            .orderBy(F.desc("s"), F.col(cell_col))
            .limit(n_probe)
            .select(cell_col)
        )
        base = emb.join(F.broadcast(best_cells), cell_col)

    codes = pq_encode(base, id_col, vec_col, codebooks)

    @F.pandas_udf(T.DoubleType())
    def _adc(codes_col: pd.Series) -> pd.Series:
        import numpy as _np

        C = _np.array(codes_col.tolist(), dtype=_np.int64)  # (n, M)
        ip = lut_ip[_np.arange(m_sub)[None, :], C].sum(axis=1)
        n2 = lut_n2[_np.arange(m_sub)[None, :], C].sum(axis=1)
        denom = qnorm * _np.sqrt(_np.maximum(n2, 1e-30))
        return pd.Series(ip / denom)

    approx = codes.select(F.col(id_col), _adc(F.col("codes")).alias("adc_sim"))
    if rerank <= 0:
        return approx.select(
            F.col(id_col), F.col("adc_sim").alias("cos_sim")
        ).orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)
    shortlist = approx.orderBy(F.desc("adc_sim"), F.col(id_col)).limit(rerank)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (
        base.join(F.broadcast(shortlist.select(id_col)), id_col)
        .select(
            F.col(id_col),
            cosine(F.col(vec_col).cast("array<double>"), qlit).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dups_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via block-pair matrix
    multiply — the distributed replacement for the O(N²) crossJoin.

    Same pair set as ``embedding_near_dups`` (pytest-pinned), different
    physical plan: rows are assigned to ``n_blocks`` blocks by id, the
    (a ≤ b) block-pair grid becomes cogroup keys, and each task scores
    one block pair with a float64 GEMM (``A @ B.T`` over the row
    norms).  A pair is kept when its cosine rounded to 6 dp exceeds
    ``threshold``, like the SQL oracle's ``round(cos, 6) > t``; GEMM
    re-associates the dot-product sum, so ``cos_sim`` may differ from an
    element-wise sum in the last ulp, far inside that 6-dp grid.  Every
    unordered row pair lands in exactly one block pair, so no dedup pass
    is needed.

    ``n_blocks`` must be ≥ 1, else ``ValueError``: a block key taken
    modulo 0 is null and the grid would silently match no pair at all.

    Scale: shuffle volume is O(N·n_blocks) vector replicas instead of an
    O(N²) pair stream; per-task work is a dense (N/n_blocks)² kernel in
    numpy instead of interpreted per-pair expressions.  Pick
    n_blocks ≈ √(desired task count).

    Works for ANY id type: blocks are assigned by ``pmod(xxhash64(id))``
    (round-2 bug: a ``cast(long)`` block key silently emitted an EMPTY
    result for string ids — null block ⇒ the grid join matched nothing),
    and the original id column is carried through unchanged, so the
    pipeline's string doc/chunk ids are first-class inputs.  The result
    pair SET is independent of block assignment (every unordered pair
    lands in exactly one block pair), so the oracle is unaffected.
    """
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    spark = emb.sparkSession
    id_dt = emb.schema[id_col].dataType.simpleString()
    grid = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(n_blocks) if a <= b],
        "pa int, pb int",
    )
    tagged = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # Two grid joins unioned with a side marker (a self-cogroup of the
    # same lineage trips Spark's ambiguous-self-join analyzer; a union
    # of two branches of the same plan is fine and shuffles once).
    left = tagged.join(F.broadcast(grid), tagged.blk == grid.pa).select(
        "pa", "pb", "vid", "vec", F.lit(0).alias("side")
    )
    right = tagged.join(F.broadcast(grid), tagged.blk == grid.pb).select(
        "pa", "pb", "vid", "vec", F.lit(1).alias("side")
    )
    both = left.unionByName(right)
    thr = float(threshold)

    id_np_dtype = "object" if id_dt == "string" else "int64"

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"id_a": pd.Series(dtype=id_np_dtype),
                              "id_b": pd.Series(dtype=id_np_dtype),
                              "cos_sim": pd.Series(dtype="float64")})
        same = int(pdf["pa"].iloc[0]) == int(pdf["pb"].iloc[0])
        a_pdf = pdf[pdf["side"] == 0]
        b_pdf = a_pdf if same else pdf[pdf["side"] == 1]
        if a_pdf.empty or b_pdf.empty:
            return empty
        ida = a_pdf["vid"].to_numpy()
        idb = b_pdf["vid"].to_numpy()
        A = np.stack(a_pdf["vec"].to_numpy()).astype(np.float64)
        B = A if same else np.stack(b_pdf["vec"].to_numpy()).astype(np.float64)
        # BLAS GEMM.  Round 2 used a sequential per-dim accumulation to
        # match the SQL oracle's summation order bit-for-bit; measured
        # at sf0.1 (4M pairs, 64-d) the reassociated GEMM sum differs by
        # ≤1e-15 — nine orders of magnitude inside the 6-dp rounding
        # grid both sides compare on, with zero rounded mismatches and
        # zero threshold flips — while the per-dim loop was ~2 s/task of
        # interpreted numpy (most of the query's round-2 bench seconds).
        cos = (A @ B.T) / (
            np.sqrt((A * A).sum(axis=1))[:, None]
            * np.sqrt((B * B).sum(axis=1))[None, :]
        )
        # threshold on the 6-dp-rounded value, like the SQL oracle's
        # WHERE round(cos, 6) > t — keeps boundary rows consistent
        keep = np.round(cos, 6) > thr
        if same:
            mask = keep & (ida[:, None] < idb[None, :]).astype(bool)
        else:
            mask = keep
        ii, jj = np.nonzero(mask)
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cos[ii, jj]})

    return both.groupBy("pa", "pb").applyInPandas(
        score_block_pair, f"id_a {id_dt}, id_b {id_dt}, cos_sim double"
    )


def embedding_near_dups(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, small-N test oracle).

    Scale path: ``embedding_near_dups_blocked`` (identical results,
    block-pair GEMM plan); this crossJoin variant exists only to verify
    it in pytest and must not appear in benchmarked queries.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > threshold)
    )


# ------------------------------------------------------- fingerprinting

def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    char k-grams of the normalized text → hash each → take the minimum
    hash of every w-wide sliding window → distinct selected hashes.

    Guarantees: any shared substring of length ≥ k+w−1 between two docs
    yields at least one shared fingerprint, while storing only ~2/(w+1)
    of the k-gram hashes — the plagiarism/near-dup fingerprint index
    used at corpus scale.  Built-ins only (one projection, no UDF, no
    shuffle until the caller aggregates); md5 hex is the rolling-hash
    stand-in (lexicographic min ≡ numeric min on fixed-width hex).

    Returns (id_col, fp) with one row per selected fingerprint.
    """
    # each stage materializes into a column before the next lambda uses
    # it: an expression referenced inside transform() is re-evaluated
    # PER ELEMENT (no CSE across lambda scopes), which turns the window
    # pass into O(n²) md5 work if `hs` stays an inline expression
    cleaned = ensure_parallelism(docs).select(
        F.col(id_col),
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "").alias("c"),
    ).filter(F.length("c") >= k)
    hashed = cleaned.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.length("c") - k),
            lambda i: F.md5(F.substr(F.col("c"), i + 1, F.lit(k))),
        ).alias("hs"),
    )
    return hashed.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("hs") - w, F.lit(0))),
                    lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
                )
            )
        ).alias("fp"),
    )


def remove_duplicate_passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_len: int = 20,
) -> DataFrame:
    """Exact substring-span REMOVAL (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every character that
    sits inside a duplicated span of length ≥ ``min_len`` is cut from
    all but the FIRST occurrence corpus-wide, and the text is rewritten
    — the operation SlimPajama/RefinedWeb-style pipelines actually run,
    one step past the pair *detection* that ``winnow_fingerprints``
    feeds.

    Algorithm (hash-join stand-in for the paper's suffix array, same
    output semantics for spans ≥ min_len ≥ 2k−1):
    1. every k-gram position hashes to (id, pos, h) — one row per char,
    2. per hash, the first occurrence (min (id, pos)) OWNS it; every
       later occurrence is a duplicate k-gram,
    3. per doc, overlapping-or-adjacent duplicate intervals
       [pos, pos+k−1] merge into maximal spans (gaps-and-islands over
       one window); spans shorter than min_len are kept as text
       (incidental overlap, not plagiarism),
    4. surviving text = concat of the inter-span segments — a pure
       ``aggregate`` fold over the doc's sorted spans.

    Returns (id_col, text_clean, n_dup_spans, n_removed_chars) — one
    row per input doc, including docs with nothing removed.

    Scale shape: two shuffles (hash → first-occurrence window; doc →
    span merge + rewrite).  The gram pass is one 16-byte row per input
    CHARACTER — linear but heavy, so at corpus scale run it only over
    the candidate set ``shared_passages`` flags (winnowed fingerprints,
    ~2/(w+1) of this volume) plus their first-occurrence partners; the
    full pass here is the exact reference semantics the candidates
    approximate.
    """
    from pyspark.sql import Window

    tc = F.col(text_col)
    base = ensure_parallelism(docs).select(F.col(id_col), tc)
    g = base.filter(F.length(tc) >= k).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(tc) - k + 1),
                lambda p: F.struct(
                    p.alias("pos"), F.md5(F.substr(tc, p, F.lit(k))).alias("h")
                ),
            )
        ).alias("g"),
    ).select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))

    # 2. duplicate k-gram positions: everything after the first (id, pos)
    w_h = Window.partitionBy("h").orderBy(F.col(id_col), F.col("pos"))
    dup = (
        g.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") > 1)
        .select(F.col(id_col), "pos", (F.col("pos") + (k - 1)).alias("e"))
    )

    # 3. gaps-and-islands merge per doc
    w_d = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("e").over(w_d.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_d))
    spans = (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("e"))
        .filter(F.col("e") - F.col("s") + 1 >= min_len)
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"),
            F.count("*").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("n_removed_chars"),
        )
    )

    # 4. rewrite: fold the sorted spans, emitting each inter-span segment
    rebuilt = F.aggregate(
        F.col("spans"),
        F.struct(F.lit("").alias("acc"), F.lit(1).cast("int").alias("nxt")),
        lambda a, sp: F.struct(
            F.concat(a.acc, F.substr(tc, a.nxt, sp.s - a.nxt)).alias("acc"),
            (sp.e + 1).cast("int").alias("nxt"),
        ),
        lambda a: F.concat(a.acc, F.substr(tc, a.nxt, F.length(tc) - a.nxt + 1)),
    )
    return base.join(spans, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("spans").isNull(), tc).otherwise(rebuilt).alias("text_clean"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(F.col("n_removed_chars"), F.lit(0))
        .cast("long")
        .alias("n_removed_chars"),
    )


# ----------------------------------------------------- quality signals

_STOPWORDS = (
    "the and of to in is that it for on with as was at by this have from "
    "or be are not but had his which they you were her she all".split()
)


def text_quality_signals(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality signals for training-data filtering: token
    count, mean token length, stopword ratio, punctuation ratio,
    uppercase ratio — all built-in expressions.  Tokens are projected
    into a column first so the regex tokenizer runs once per row, not
    once per signal that references it."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        F.col(id_col), text.alias("t"), sql_tokens(F.col(text_col)).alias("toks")
    )
    toks, n_toks = F.col("toks"), F.size("toks")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS)))
    n_chars = F.length("t")
    n_punct = n_chars - F.length(F.regexp_replace(F.col("t"), r"[.,;:!?]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(F.col("t"), r"[A-Z]", ""))
    return base.select(
        F.col(id_col),
        n_toks.cast("long").alias("n_tokens"),
        F.round(
            F.when(
                n_toks > 0,
                F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / n_toks,
            ).otherwise(0.0),
            6,
        ).alias("mean_token_len"),
        F.round(
            F.when(n_toks > 0, stop_hits / n_toks).otherwise(0.0), 6
        ).alias("stopword_ratio"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 6).alias("upper_ratio"),
    )


# ------------------------------------------- dedup cluster resolution

def connected_components(
    pairs: DataFrame, src: str, dst: str, max_iter: int = 25,
    small_edge_threshold: int = 200_000,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into duplicate CLUSTERS:
    iterative min-label propagation (the step between pair generation
    and keep-one-per-cluster in a dedup pipeline).

    Each node starts labeled with its own id; every iteration each node
    takes the minimum label among (a) itself, (b) its neighbors, and —
    from round 3 — (c) its label's OWN label, the pointer-jumping /
    path-halving step that doubles how far a small label has travelled
    each round, so a chain-shaped component of length L converges in
    O(log L) rounds instead of O(L) (the alternating-star bound of
    Kiveris et al. 2014, obtained here with one extra self-join per
    round).  Near-dup clusters are dense (diameter ≤ ~3) and converge
    within 3 neighbor-only rounds, so the jump join is deferred until
    a component is still moving after round 2 — exactly the
    chain-shaped case it protects against.
    ``localCheckpoint`` truncates the growing lineage each round —
    without it the plan doubles per iteration and the job dies at scale
    on plan size, not data size.

    Returns (n, cluster) — one row per node that appears in any pair;
    the label is the smallest id in the component, a deterministic
    canonical representative.
    """
    # NULL endpoints cannot participate in clustering (an upstream
    # outer join can produce them): dropped on BOTH paths, so the
    # driver fast path and the distributed loop agree on every input
    e = pairs.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    # eager materialization (repo fork-then-cache rule): round 1 reads
    # `edges` from two subtrees of one job; a lazy persist can miss on
    # both and evaluate the upstream pair plan twice.  The count also
    # sizes the loop's width: every round pays task launches
    # proportional to the edge frame's partition count, so a small
    # candidate set must not iterate at full cluster width (measured
    # 4 s/round on 510 edges at width 32 vs ~0.3 s at width 1), while
    # web-scale edge sets keep every core.  ``coalesce`` is narrow —
    # rounds read the cache through it without a second persist.
    n_edges = edges.count()
    # Adaptive small-graph path: a verified near-dup PAIR table is
    # orders of magnitude smaller than the corpus that produced it
    # (255 pairs from 6k docs at sf0.1; the ratio shrinks further at
    # scale because the verify threshold caps it) — when the measured
    # edge count fits comfortably on the driver, iterating Spark jobs
    # is pure scheduler overhead (~0.5-1 s/round × O(log L) rounds for
    # <1 ms of actual work).  Union-find on the collected edges gives
    # the identical min-label-per-component answer in one collect +
    # one createDataFrame; the distributed pointer-jumping loop below
    # remains the path for edge sets above the threshold, where the
    # collect would not fit.  The gate uses the same measured count
    # that already sizes the loop width, so no extra job is paid.
    if 0 < n_edges <= small_edge_threshold:
        id_type = edges.schema["a"].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edges.select("a", "b").collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min root wins → label is the component's smallest id,
                # bit-identical to the distributed loop's fixpoint
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out_rows = [(n, find(n)) for n in parent]
        edges.unpersist()
        spark = pairs.sparkSession
        schema = T.StructType(
            [T.StructField("n", id_type), T.StructField("cluster", id_type)]
        )
        return spark.createDataFrame(out_rows, schema)
    if n_edges == 0:
        edges.unpersist()
        return edges.select(
            F.col("a").alias("n"), F.col("b").alias("cluster")
        ).limit(0)
    width = max(
        1,
        min(
            pairs.sparkSession.sparkContext.defaultParallelism,
            -(-n_edges // 50_000),
        ),
    )
    cached = edges
    if width < edges.rdd.getNumPartitions():
        edges = cached.coalesce(width)
    labels = (
        edges.select(F.col("a").alias("n")).distinct().withColumn("lbl", F.col("n"))
    )
    for it in range(max_iter):
        neigh = edges.join(
            labels.select(F.col("n").alias("a"), "lbl"), "a"
        ).select(F.col("b").alias("n"), "lbl")
        parts = labels.union(neigh)
        # pointer jump: lbl ← labels[lbl]; labels always point at a
        # node that exists in `labels` (a min over node ids), so the
        # inner join is total.  Engaged from round 3 only: dense
        # near-dup clusters converge in ≤3 neighbor rounds and the
        # extra self-join per round would be pure overhead (measured
        # 3×); a component still moving after round 2 is chain-shaped —
        # exactly when halving pays.
        if it >= 2:
            jump = (
                labels.select(F.col("n").alias("jn"), F.col("lbl").alias("mid"))
                .join(
                    labels.select(F.col("n").alias("mid"), F.col("lbl").alias("jl")),
                    "mid",
                )
                .select(F.col("jn").alias("n"), F.col("jl").alias("lbl"))
            )
            parts = parts.union(jump)
        # lazy checkpoint: materialized BY the convergence count below —
        # one job per round instead of an eager-checkpoint job plus a
        # count job (measured ~2x fewer driver round-trips per iteration)
        new_labels = (
            parts.groupBy("n").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=False)
        changed = (
            labels.alias("o")
            .join(new_labels.alias("x"), "n")
            .filter(F.col("x.lbl") < F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exiting via max_iter with labels still moving means SPLIT
        # clusters downstream (multiple "representatives" of one dup
        # cluster) with no other signal — fail loudly instead.
        cached.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); with pointer jumping "
            f"this needs a component of length > ~2^{max_iter} — check "
            f"the pair generator before raising max_iter"
        )
    cached.unpersist()
    return labels.select("n", F.col("lbl").alias("cluster"))


def percolation_stats(
    pairs: DataFrame,
    src: str,
    dst: str,
    weight_col: str,
    thresholds: list,
    small_edge_threshold: int = 200_000,
) -> DataFrame:
    """Dedup-threshold percolation curve: for each cutoff, the component
    statistics of the similarity graph restricted to edges with
    ``weight >= t`` — the knob plot that shows where near-dup clusters
    chain into a giant component.

    Replaces T independent ``connected_components`` runs with ONE pass:
    edge sets at higher thresholds are strict subsets of lower ones, so
    sweeping thresholds DESCENDING and adding each edge exactly once (at
    the highest cutoff that admits it) into an incremental union-find
    yields every threshold's partition for O(E α(E)) total work — the
    Newman-Ziff percolation sweep.  A verified near-dup pair table is
    orders of magnitude smaller than its corpus (the verify threshold
    caps it), so below ``small_edge_threshold`` the sweep runs on ONE
    collected edge list — one Spark job for the whole curve instead of
    T × (distinct + CC rounds + aggregate) jobs (measured 8.0 s → one
    collect at sf0.1).  Above the cap it falls back to one distributed
    ``connected_components`` + aggregate per threshold, each restricted
    to the ``>= min(thresholds)`` edge subset.

    Returns one row per threshold:
    ``(threshold, n_linked_docs, n_components, max_component)`` —
    identical aggregates to running CC per threshold (union-find and
    min-label propagation induce the same partition).
    """
    ts = sorted(set(float(t) for t in thresholds), reverse=True)
    schema = T.StructType([
        T.StructField("threshold", T.DoubleType(), False),
        T.StructField("n_linked_docs", T.LongType(), False),
        T.StructField("n_components", T.LongType(), False),
        T.StructField("max_component", T.LongType(), False),
    ])
    spark = pairs.sparkSession
    e = pairs.filter(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(weight_col) >= min(ts))
    ).select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight_col).cast("double").alias("w"),
    ).persist()
    n_edges = e.count()
    if n_edges <= small_edge_threshold:
        edges = e.collect()
        e.unpersist()
        edges.sort(key=lambda r: -r[2])
        parent: dict = {}
        size: dict = {}
        n_linked = n_comp = max_comp = 0

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        out_rows = []
        i = 0
        for t in ts:
            while i < len(edges) and edges[i][2] >= t:
                a, b = edges[i][0], edges[i][1]
                i += 1
                for nd in (a, b):
                    if nd not in parent:
                        parent[nd] = nd
                        size[nd] = 1
                        n_linked += 1
                        n_comp += 1
                        max_comp = max(max_comp, 1)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if size[ra] < size[rb]:
                        ra, rb = rb, ra
                    parent[rb] = ra
                    size[ra] += size[rb]
                    n_comp -= 1
                    max_comp = max(max_comp, size[ra])
            out_rows.append((t, n_linked, n_comp, max_comp))
        return spark.createDataFrame(sorted(out_rows), schema)
    frames = []
    for t in ts:
        cc = connected_components(
            e.filter(F.col("w") >= t), "a", "b",
            small_edge_threshold=small_edge_threshold,
        )
        sizes = cc.groupBy("cluster").agg(F.count("*").alias("sz"))
        frames.append(
            sizes.agg(
                F.coalesce(F.sum("sz"), F.lit(0)).alias("n_linked_docs"),
                F.coalesce(F.count("*"), F.lit(0)).alias("n_components"),
                F.coalesce(F.max("sz"), F.lit(0)).alias("max_component"),
            ).select(
                F.lit(t).alias("threshold"),
                "n_linked_docs", "n_components", "max_component",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    # Materialize the T-row curve (bounded: one row per threshold) so the
    # cached edge frame can be released before returning — a lazy return
    # would retain `e` in executor memory for the whole session.
    rows = [tuple(r) for r in out.collect()]
    e.unpersist()
    return spark.createDataFrame(sorted(rows), schema)


# --------------------------------------------- embedding quantization

def embedding_sanity(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    expected_dim: int,
    k_iqr: float = 3.0,
    min_rel_band: float = 0.01,
) -> DataFrame:
    """Embedding QA gate: the scan a 10^12-chunk pipeline runs BEFORE
    ANN/near-dup/quantization, because one NaN component poisons every
    dot product it touches and a batch of zero vectors silently matches
    nothing.  Flags, in precedence order:

    - ``bad_dim``: wrong vector length (a schema drift or a truncated
      write),
    - ``non_finite``: any NaN/Inf component,
    - ``zero_norm``: the all-zeros vector (cosine undefined),
    - ``norm_outlier``: finite norm outside ``[q1 − w, q3 + w]`` with
      ``w = max(k·IQR, min_rel_band·median-scale)`` over the HEALTHY
      population (an unnormalized batch from a different encoder
      revision).  The relative floor matters: an L2-normalized corpus
      has IQR ≈ 1e-8, where a bare Tukey fence would flag legitimate
      rows on float noise and make the verdict engine-dependent — the
      band never drops below ``min_rel_band`` of the distribution's
      location,
    - ``ok`` otherwise.

    One scan computes (dim, n_nonfinite, norm) as pure expressions; the
    quartiles are a 2-number aggregate over healthy rows broadcast back
    as literals — no second shuffle, no Python.  Norm sums the squares
    in list order so the oracle's fold reproduces the float exactly.
    """
    x2 = F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double"))
    staged = emb.select(
        F.col(id_col),
        F.size(vec_col).alias("dim"),
        F.size(
            F.filter(
                F.col(vec_col),
                lambda x: F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            )
        ).alias("n_nonfinite"),
        F.sqrt(F.aggregate(x2, F.lit(0.0), lambda a, x: a + x)).alias("norm"),
    )
    healthy = staged.filter(
        (F.col("dim") == expected_dim)
        & (F.col("n_nonfinite") == 0)
        & (F.col("norm") > 0)
    )
    q = healthy.agg(
        F.expr("percentile(norm, array(0.25, 0.75))").alias("q")
    ).first()["q"]
    if q is None:
        # no healthy rows at all: nothing can reach the outlier branch
        # (its guard conditions ARE the healthy filter), so the fence
        # is vacuous — just keep the column expression well-defined
        lo, hi = float("-inf"), float("inf")
    else:
        q1, q3 = float(q[0]), float(q[1])
        band = max(k_iqr * (q3 - q1), min_rel_band * (q1 + q3) / 2.0)
        lo, hi = q1 - band, q3 + band
    verdict = (
        F.when(F.col("dim") != expected_dim, F.lit("bad_dim"))
        .when(F.col("n_nonfinite") > 0, F.lit("non_finite"))
        .when(F.col("norm") == 0.0, F.lit("zero_norm"))
        .when((F.col("norm") < lo) | (F.col("norm") > hi), F.lit("norm_outlier"))
        .otherwise(F.lit("ok"))
    )
    # non-finite rows report norm = -1.0 (a sentinel no real vector can
    # produce) instead of NaN: NaN is unsortable/unhashable across the
    # oracle comparison surfaces and unequal to itself in joins
    norm_out = F.when(F.col("n_nonfinite") > 0, F.lit(-1.0)).otherwise(
        F.round("norm", 6)
    )
    return staged.select(
        id_col, "dim", norm_out.alias("norm"), verdict.alias("verdict")
    )


def quantize_embeddings_int8(
    emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector symmetric int8 quantization of an embedding column.

    Returns (id, codes array<tinyint>, scale float): each component is
    round(x / scale) with scale = max(|x|)/127 — 4x smaller at rest than
    float32, which at 10^12 chunks is the difference between an
    embedding table that fits the cluster and one that doesn't.  Pure
    column expressions (transform + aggregate), no Python.

    Dequantize with ``dequantize_int8``; cosine on dequantized vectors
    preserves top-k ordering to ~1e-2 relative error (pinned by a
    recall test) because cosine is scale-invariant and per-vector
    scaling cancels in the norm.
    """
    v = F.col(vec_col)
    # Stage the O(d) amax fold into its own projection BEFORE anything
    # references it more than once: an expression referenced inside a
    # transform() lambda is re-evaluated PER ELEMENT (no CSE across
    # lambda scopes), so an inline scale would re-run the fold for
    # every component — O(d²)/row, ~590k ops instead of ~1.5k at the
    # 768-dim production width.  Two stages: (1) amax (the CASE WHEN
    # in scale references it twice), (2) scale (the codes lambda and
    # the output column reference it twice) — multiple non-cheap
    # references are what keep CollapseProject from re-inlining, and a
    # plan pin asserts the fold survives exactly once.
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    s1 = emb.select(F.col(id_col), v.alias("__v"), amax.alias("__amax"))
    scale = F.when(F.col("__amax") > 0, F.col("__amax") / F.lit(127.0)).otherwise(
        F.lit(1.0)
    )
    s2 = s1.select(F.col(id_col), F.col("__v"), scale.alias("__scale"))
    s = F.col("__scale")
    codes = F.transform(F.col("__v"), lambda x: F.round(x / s).cast("tinyint"))
    return s2.select(
        F.col(id_col),
        codes.alias("codes"),
        s.cast("float").alias("scale"),
    )


def dequantize_int8(codes, scale):
    """array<tinyint> codes + scalar scale → array<double>."""
    return F.transform(codes, lambda c: c.cast("double") * scale.cast("double"))


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication inside
    pre-computed embedding clusters.

    Within each cluster cell (k-means label — ``ivf_centroids`` produces
    one, or reuse an upstream classifier's label), score all pairs and
    drop every vector that has a same-cell neighbor with cosine ≥
    ``threshold`` and a smaller id.  The smaller-id-domination rule is
    SemDeDup's keep-one-per-group made deterministic and
    oracle-expressible (an EXISTS self-join) — no transitive closure,
    so two borderline chains can keep one extra member; at the paper's
    thresholds (0.9+) groups are tight and this matches CC-level
    behavior.

    Returns the surviving rows (id, cell).  Scale shape: pairs never
    leave their cell — the cogroup key is the cell id, each task runs
    one dense GEMM over its cell's vectors (cells are k-means-balanced;
    at 10^12 rows you shard fat cells with the same block-pair grid as
    ``embedding_near_dups_blocked``).  Shuffle volume is O(N) vector
    rows, never O(N²) pairs.
    """
    id_dt = emb.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    tagged = emb.select(
        F.col(cell_col).alias("__cell"),
        F.col(id_col).alias("__vid"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    )

    def dominated(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["__vid"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"__vid": pd.Series(dtype=ids.dtype)})
        A = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((A * A).sum(axis=1))
        cos = (A @ A.T) / (nrm[:, None] * nrm[None, :])
        # same 6-dp threshold grid as the blocked near-dup kernel, so
        # boundary pairs agree with the SQL twin
        hit = np.round(cos, 6) >= thr
        smaller = ids[:, None] < ids[None, :]
        dom = (hit & smaller).any(axis=0)
        return pd.DataFrame({"__vid": ids[dom]})

    dup_ids = tagged.groupBy("__cell").applyInPandas(
        dominated, f"__vid {id_dt}"
    )
    return emb.join(
        dup_ids.withColumnRenamed("__vid", id_col), id_col, "left_anti"
    ).select(F.col(id_col), F.col(cell_col))


def minhash_cross_candidates(
    new_docs: DataFrame,
    committed_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 1,
) -> DataFrame:
    """Incremental near-dup candidates: a NEW batch against a COMMITTED
    corpus's persisted band-signature store.

    Production dedup never re-minhashes the whole corpus per batch: the
    (id, band, sig) table from :func:`minhash_band_signatures` is a
    persisted artifact appended once per committed batch, and each new
    batch computes only its OWN signatures (O(batch), not O(corpus))
    and equi-joins the store on (band, sig).  Returns
    (new_id, committed_id) candidate pairs — verify with the same
    gram-hash Jaccard pass as the batch path, then anti-join flagged
    new docs out before commit.

    Scale: the join is an equi-join on the band signature — at 10^12
    docs the store is bucketed by sig hash, so the probe shuffles only
    the new batch's O(batch · n_bands) signature rows.
    """
    new_sigs = minhash_band_signatures(
        new_docs, id_col, text_col, n_bands, rows_per_band
    )
    a = new_sigs.select(
        F.col(id_col).alias("new_id"), "band", "sig"
    )
    b = committed_sigs.select(
        F.col(id_col).alias("committed_id"), "band", "sig"
    )
    return a.join(b, ["band", "sig"]).select("new_id", "committed_id").distinct()


def fit_pca(emb: DataFrame, vec_col: str, k: int = 8):
    """Distributed PCA fit over an embedding column — the whitening /
    dimensionality-reduction step before clustering (SemDeDup appendix)
    or visualization, and the one linear-algebra shape the rest of the
    ANN family doesn't cover.

    Scale design (the tree-aggregation pattern): ONE corpus scan in
    which each partition accumulates its own (n, Σx, XᵀX) with numpy
    inside ``mapInPandas`` and emits exactly ONE d²-sized row — the
    driver then sums P partial rows (P = #partitions) and finishes with
    an O(d³) ``eigh`` on the d×d covariance.  Nothing corpus-sized ever
    reaches the driver and the shuffle carries P rows total; at d=768
    a partial row is ~4.7 MB, so even 10⁵ partitions stream through a
    single collect comfortably — this is exactly how MLlib's
    ``computeCovariance`` is shaped.

    Eigenvector sign is pinned (largest-|coordinate| made positive) so
    the fit is deterministic up to float-sum ordering; tests compare
    against numpy's full-batch PCA within tolerance.

    Returns ``(mean: list[float], components: list[list[float]],
    explained_variance_ratio: list[float])`` with components in
    descending-eigenvalue order.
    """
    import numpy as np

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("fit_pca: empty input")
    d = len(first[0])
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def _partials(batches):
        n = 0
        s = np.zeros(d)
        g = np.zeros((d, d))
        for pdf in batches:
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if M.size:
                n += M.shape[0]
                s += M.sum(axis=0)
                g += M.T @ M
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    parts = emb.select(vec_col).mapInPandas(_partials, schema).collect()
    n_total = sum(r["n"] for r in parts)
    if n_total < 2:
        raise ValueError("fit_pca: need at least 2 vectors")
    s_total = np.zeros(d)
    g_total = np.zeros((d, d))
    for r in parts:
        s_total += np.array(r["s"])
        g_total += np.array(r["g"]).reshape(d, d)
    mu = s_total / n_total
    cov = (g_total - n_total * np.outer(mu, mu)) / (n_total - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v.tolist())
    total_var = float(evals.sum())
    evr = [float(evals[i]) / total_var for i in order]
    return mu.tolist(), comps, evr


def pca_project(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    mean: list,
    components: list,
    decimals: int = 6,
) -> DataFrame:
    """Project embeddings onto fitted principal components — JVM-only
    expressions (one zip_with·aggregate dot product per component, the
    mean-dot folded in as a precomputed literal), so the scoring pass
    is whole-stage-codegen with zero Python.  Returns
    ``(id, pc1..pck)`` rounded to ``decimals``."""
    import numpy as np

    mu = np.array(mean)
    cols = []
    for i, comp in enumerate(components):
        arr = F.array(*[F.lit(float(c)) for c in comp])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        mu_dot = float(np.dot(mu, np.array(comp)))
        cols.append(F.round(dot - F.lit(mu_dot), decimals).alias(f"pc{i + 1}"))
    return emb.select(F.col(id_col), *cols)


def _nearest_cell(vec_col: str, centroids: list) -> "F.Column":
    """0-based index of the nearest centroid (squared-L2, first-min
    tie-break) as a pure JVM expression: one zip_with·aggregate squared
    distance per centroid, argmin via array_position(array_min).  k
    small lambda trees keep the plan tiny; per-element interpretation
    is fine for a single assignment pass."""
    dists = []
    for c in centroids:
        arr = F.array(*[F.lit(float(x)) for x in c])
        dists.append(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col), arr, lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    darr = F.array(*dists)
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def kmeans_fit(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iters: int = 10,
    train_sample_mod: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means over a fixed-dimension embedding column — the
    corpus domain-clustering step (cluster-then-balance mixes,
    SemDeDup cells, IVF codebook training proper).

    Same distributed shape as the repo's PCA trainer: the model is
    k x d doubles held driver-side and broadcast into each round via
    the task closure; one mapInPandas job per round computes, PER
    PARTITION, Arrow-vectorized numpy assignments (one N x k GEMM-
    shaped distance block) and yields only per-cell partial sums —
    at most k rows of (count, d-vector) per partition, never
    corpus-sized, ZERO shuffle.  The driver combines k x P rows and
    re-estimates means; empty clusters keep their previous centroid.
    (A pure-expression variant was measured and rejected: k x d
    expanded codegen trees cost ~12 s of planning per round, and
    zip_with/aggregate lambdas are interpreted per element — the
    partial-aggregate pandas shape is 10x faster at sf0.1 and is how
    an iterative trainer should ride Spark at 100 TB anyway.)

    Init is deterministic and engine-stable: the k vectors with the
    smallest ``(xxhash64(id), id)`` — arbitrary but reproducible, the
    standard move when RNG state is banned.  ``train_sample_mod``
    subsamples the fit exactly like :func:`ivf_centroids` (sample-fit
    + full assign is the codebook-training shape at corpus scale).
    Assignment ties break to the first minimum, matching
    ``numpy.argmin``.

    Returns the k centroids in init order (stable cluster ids).
    """
    import numpy as np
    import pandas as pd

    src = emb
    if train_sample_mod is not None and train_sample_mod > 1:
        src = emb.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod)) == 0
        )
    seeds = (
        src.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"kmeans_fit: need >= {k} vectors, got {len(seeds)}")
    cents = np.array(
        [[float(x) for x in r[vec_col]] for r in seeds], dtype=np.float64
    )
    d = cents.shape[1]

    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )

    # project to the one needed column, widen accidental
    # single-partition layouts (small parquet scans as 1 task, which
    # would serialize every round onto one core), and cache: every
    # round re-scans this frame, and at corpus scale re-reading
    # parquet per iteration is the classic iterative-ML mistake
    # width tracks the training-set size (~8k vectors per partition,
    # capped at cluster parallelism): every Lloyd round pays one task
    # launch per partition, so a small sample-fit must not iterate at
    # full cluster width (same sizing rule as fit_quality_classifier
    # and connected_components), while corpus-scale fits keep every
    # core.  The count doubles as the eager cache materialization.
    staged = ensure_parallelism(src.select(F.col(vec_col))).persist()
    n_vecs = staged.count()
    width = max(
        1,
        min(
            emb.sparkSession.sparkContext.defaultParallelism,
            -(-n_vecs // 8192),
        ),
    )
    cached = staged
    if width < staged.rdd.getNumPartitions():
        staged = cached.coalesce(width)
    try:
        for _ in range(n_iters):
            C = cents  # capture this round's model in the closure

            def _partials(batches, C=C):
                n = np.zeros(k, dtype=np.int64)
                s = np.zeros((k, d), dtype=np.float64)
                cnorm = (C * C).sum(axis=1)
                for pdf in batches:
                    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    if not X.size:
                        continue
                    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; drop the
                    # ||x||^2 term (constant per row) for the argmin
                    cell = (X @ C.T * -2.0 + cnorm).argmin(axis=1)
                    for c in range(k):
                        m = cell == c
                        cnt = int(m.sum())
                        if cnt:
                            n[c] += cnt
                            s[c] += X[m].sum(axis=0)
                yield pd.DataFrame(
                    {
                        "cell": np.arange(k, dtype=np.int32),
                        "n": n,
                        "s": [row.tolist() for row in s],
                    }
                )

            rows = staged.mapInPandas(_partials, schema).collect()
            n_tot = np.zeros(k, dtype=np.int64)
            s_tot = np.zeros((k, d), dtype=np.float64)
            for r in rows:
                n_tot[r["cell"]] += r["n"]
                s_tot[r["cell"]] += np.array(r["s"], dtype=np.float64)
            nxt = cents.copy()  # empty cluster -> keep centroid
            nz = n_tot > 0
            nxt[nz] = s_tot[nz] / n_tot[nz, None]
            if np.array_equal(nxt, cents):
                break
            cents = nxt
    finally:
        cached.unpersist()
    return [list(map(float, c)) for c in cents]


def kmeans_assign(
    emb: DataFrame, id_col: str, vec_col: str, centroids: list
) -> DataFrame:
    """Assign every vector to its nearest fitted centroid — one
    scan-side projection, zero shuffle, zero Python.  Returns
    ``(id, cell)``."""
    return emb.select(
        F.col(id_col), _nearest_cell(vec_col, centroids).alias("cell")
    )


# ------------------------------------------------ LSH parameter planning


def lsh_parameter_plan(
    spark, n_perms: int = 128, threshold: float = 0.8, n_grid: int = 200
) -> DataFrame:
    """Candidate-generation planning for MinHash-LSH: score every
    (bands b, rows r) split of an ``n_perms`` signature budget against
    a target Jaccard ``threshold``.

    For a pair with true similarity s, LSH proposes it with
    P(s) = 1 − (1 − s^r)^b.  The planner integrates, by midpoint rule
    over ``n_grid`` cells, the false-positive area ∫₀ᵗ P(s) ds (pairs
    below threshold that still collide → wasted verify work) and the
    false-negative area ∫ₜ¹ (1 − P(s)) ds (true pairs missed → recall
    loss), and reports both plus their sum.  ``s50 = (1/b)^(1/r)`` is
    the curve's midpoint.  At 10^12 documents the verify stage costs
    (candidate pairs) × (gram-intersection work): picking (b, r) off
    this table is the difference between a verify join that fits the
    cluster and one that doesn't — tuning belongs in the plan, not in
    production reruns.

    Everything is one tiny crossJoin (divisor pairs × grid cells, ≤ a
    few thousand rows) of pure JVM float math; round(6) pins the sums
    cross-engine.
    """
    splits = [
        (n_perms // r, r)
        for r in range(1, n_perms + 1)
        if n_perms % r == 0
    ]
    grid = spark.range(1, n_grid + 1).select(
        ((2 * F.col("id") - 1) / F.lit(2 * n_grid)).alias("s")
    )
    plans = spark.createDataFrame(splits, ["bands", "rows_per_band"])
    p_collide = 1 - F.pow(
        1 - F.pow(F.col("s"), F.col("rows_per_band")), F.col("bands")
    )
    cell = F.lit(1.0 / n_grid)
    scored = (
        plans.crossJoin(grid)
        .select(
            "bands",
            "rows_per_band",
            F.when(F.col("s") < F.lit(threshold), p_collide * cell)
            .otherwise(F.lit(0.0))
            .alias("fp_cell"),
            F.when(F.col("s") >= F.lit(threshold), (1 - p_collide) * cell)
            .otherwise(F.lit(0.0))
            .alias("fn_cell"),
        )
        .groupBy("bands", "rows_per_band")
        .agg(
            F.round(F.sum("fp_cell"), 6).alias("fp_area"),
            F.round(F.sum("fn_cell"), 6).alias("fn_area"),
            F.round(F.sum(F.col("fp_cell") + F.col("fn_cell")), 6).alias(
                "total_error"
            ),
        )
    )
    s50 = F.round(
        F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 6
    )
    return scored.select(
        "bands", "rows_per_band", s50.alias("s50"),
        "fp_area", "fn_area", "total_error",
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware duplicate-cluster representatives: keep the BEST
    document of each near-dup cluster, not the arbitrary min-id one.

    RefinedWeb/FineWeb-style pipelines pick the representative by a
    quality signal (longest, highest LM score, best format) because
    near-dup clusters mix clean originals with boilerplate-wrapped and
    truncated copies — min-id keeps a random member, this keeps the one
    you'd want in the training mix.

    Shape: ``connected_components`` over the candidate pairs (the
    banded generators upstream), a left join back to the doc spine
    (singletons become their own cluster), then ONE window per cluster
    ordered by (quality DESC, id ASC) — a single shuffle on cluster_id
    after the CC rounds.  ``quality_col`` is any deterministic Column
    (word count, LM score, …); ties break to the smaller id so the
    choice is total cross-engine.
    """
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst)
    labeled = (
        docs.select(F.col(id_col), quality_col.alias("quality"))
        .join(cc, F.col(id_col) == F.col("n"), "left")
        .select(
            id_col,
            "quality",
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("quality").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return labeled.select(
        id_col,
        "cluster_id",
        "quality",
        F.first(id_col).over(w).alias("rep_id"),
    ).withColumn("is_rep", (F.col(id_col) == F.col("rep_id")).cast("int"))


# Content-defined chunking constants — shared by the numpy kernel and
# the DuckDB oracle (which recomputes the identical polynomial hash
# with SQL arithmetic over codepoints).  Prime modulus keeps every
# intermediate in int64 on both engines; window=8 is the classic
# Rabin-CDC window width.
_CDC_WINDOW = 8
_CDC_PRIME = 257
_CDC_MOD = 1_000_000_007


def _cdc_exploded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_size: int = 32,
    avg_size: int = 64,
    max_size: int = 192,
) -> DataFrame:
    """Content-defined chunking (Rabin-window CDC, the LBFS/FastCDC
    family) over a payload column, for chunk-level dedup of near-copy
    payloads: a fixed 8-codepoint rolling window is polynomial-hashed
    at every position, a position is a *cut candidate* when
    ``hash % avg_size == 0``, and cuts are chosen greedily left-to-
    right subject to ``min_size``/``max_size``.  Because boundaries
    depend only on local content, an insertion near the front of a
    copied payload shifts ONE chunk — every chunk after the next
    surviving boundary re-aligns and keeps its hash, which is the
    whole point versus fixed-offset chunking (where one inserted byte
    re-keys every downstream block).

    Returns one row per chunk: ``(id, chunk_idx, start, length,
    chunk_md5)`` with char-offset spans and the md5 of the chunk
    text (:func:`cdc_chunk_spans` adds the corpus-wide copy count).

    Scale shape: boundary detection is a vectorized Arrow-batched
    kernel (codepoints via one ``utf-32`` reinterpret, all window
    hashes in one strided matmul — no per-byte Python), per-document
    and embarrassingly parallel; chunk md5s are computed JVM-side
    BEFORE the shuffle, so the only exchange is (id, span ints,
    16-byte hash) rows for the copy-count aggregation — payload bytes
    never cross the wire.  At 10^12 documents the dedup join is one
    hash-partitioned count over ~len/avg_size short rows per doc.

    Reference parity: ClawRag chunks extracted text with
    offset-tracked splitters (backend/src/core/chunker.py); CDC is
    the content-addressed variant a crawl store runs on raw payloads
    where near-copies dominate.
    """
    if not (0 < min_size <= max_size) or avg_size <= 0:
        raise ValueError("require 0 < min_size <= max_size, avg_size > 0")
    w, p, m = _CDC_WINDOW, _CDC_PRIME, _CDC_MOD
    d_mod, mn, mx = int(avg_size), int(min_size), int(max_size)

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("start", T.IntegerType()),
                    T.StructField("length", T.IntegerType()),
                ]
            )
        )
    )
    def spans(texts: pd.Series) -> pd.Series:
        import numpy as np

        pows = np.array(
            [pow(p, w - 1 - k, m) for k in range(w)], dtype=np.int64
        )

        def one(t):
            if not t:
                return []
            vals = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = len(vals)
            if n >= w:
                wins = np.lib.stride_tricks.sliding_window_view(vals, w)
                h = (wins * pows).sum(axis=1) % m
                # window ending at position i = w-1+row
                cands = np.nonzero(h % d_mod == 0)[0] + (w - 1)
            else:
                cands = np.empty(0, dtype=np.int64)
            cuts, last = [], -1
            while last < n - 1:
                j = np.searchsorted(cands, last + mn)
                nxt = int(cands[j]) if j < len(cands) else last + mx
                nxt = min(nxt, last + mx, n - 1)
                cuts.append(nxt)
                last = nxt
            out, prev = [], -1
            for c in cuts:
                out.append({"start": prev + 1, "length": c - prev})
                prev = c
            return out

        return texts.map(one)

    text = F.col(text_col)
    return (
        df.select(F.col(id_col), text.alias("__t"), spans(text).alias("__s"))
        .select(id_col, "__t", F.posexplode("__s").alias("chunk_idx", "sp"))
        .select(
            id_col,
            "chunk_idx",
            F.col("sp.start").alias("start"),
            F.col("sp.length").alias("length"),
            F.md5(
                F.substring(F.col("__t"), F.col("sp.start") + 1, F.col("sp.length"))
            ).alias("chunk_md5"),
        )
    )


def cdc_chunk_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_size: int = 32,
    avg_size: int = 64,
    max_size: int = 192,
) -> DataFrame:
    """Chunk rows from :func:`_cdc_exploded` plus the corpus-wide copy
    count per chunk hash — one hash-partitioned window over short
    (id, span, 16-byte hash) rows; payload bytes never shuffle."""
    exploded = _cdc_exploded(df, id_col, text_col, min_size, avg_size, max_size)
    from pyspark.sql import Window

    return exploded.withColumn(
        "n_copies",
        F.count(F.lit(1)).over(Window.partitionBy("chunk_md5")).cast("long"),
    )


def cdc_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_size: int = 32,
    avg_size: int = 64,
    max_size: int = 192,
    threshold: float = 0.5,
    hot_chunk_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate payload pairs by exact Jaccard over content-
    defined chunk-hash SETS — the storage-dedup view of document
    similarity: two pages sharing most CDC chunks are near-copies even
    when a prefix insertion shifted every fixed offset.

    Candidate pairs come from an equi-join on chunk hash (never
    all-pairs); the exact set intersection for candidates is a second
    equi-join, so both shuffles carry only (id, 16-byte hash) rows.
    ``hot_chunk_cap`` is the skew guard at corpus scale: a boilerplate
    chunk shared by millions of pages would fan the candidate join
    quadratically, so hashes appearing in more than ``cap`` documents
    are excluded from candidate GENERATION (the exact intersection
    still counts them for any pair that became a candidate — the
    Jaccard itself is unbiased, only recall of pairs linked SOLELY by
    mega-hot chunks is traded away, the same bargain stopword removal
    makes).

    Returns ``(url_a, url_b, n_shared, n_chunks_a, n_chunks_b,
    jaccard)`` for pairs with Jaccard >= ``threshold``.
    """
    ex = _cdc_exploded(df, id_col, text_col, min_size, avg_size, max_size)
    sets = ex.select(F.col(id_col).alias("__id"), "chunk_md5").distinct()
    sizes = sets.groupBy("__id").agg(F.count(F.lit(1)).alias("nc"))
    gen = sets
    if hot_chunk_cap is not None:
        freq = sets.groupBy("chunk_md5").agg(
            F.count(F.lit(1)).alias("__docs")
        )
        gen = sets.join(
            freq.filter(F.col("__docs") <= hot_chunk_cap).select("chunk_md5"),
            "chunk_md5",
        )
    pairs = (
        gen.select(F.col("__id").alias("url_a"), "chunk_md5")
        .join(gen.select(F.col("__id").alias("url_b"), "chunk_md5"), "chunk_md5")
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
        .distinct()
    )
    shared = (
        pairs.join(
            sets.select(F.col("__id").alias("url_a"), "chunk_md5"), "url_a"
        )
        .join(
            sets.select(F.col("__id").alias("url_b"), "chunk_md5"),
            ["url_b", "chunk_md5"],
        )
        .groupBy("url_a", "url_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") / (
        F.col("n_chunks_a") + F.col("n_chunks_b") - F.col("n_shared")
    )
    return (
        shared.join(
            sizes.select(F.col("__id").alias("url_a"), F.col("nc").alias("n_chunks_a")),
            "url_a",
        )
        .join(
            sizes.select(F.col("__id").alias("url_b"), F.col("nc").alias("n_chunks_b")),
            "url_b",
        )
        .filter(jac >= threshold)
        .select(
            "url_a",
            "url_b",
            "n_shared",
            "n_chunks_a",
            "n_chunks_b",
            F.round(jac, 6).alias("jaccard"),
        )
    )


def symspell_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edits: int = 1,
) -> DataFrame:
    """Edit-distance near-duplicate pairs for SHORT strings (titles,
    anchor texts, queries) via deletion neighborhoods (the SymSpell
    insight): two strings within Damerau/Levenshtein distance 1 share
    a member of their {self} ∪ {one-char-deletions} sets, so an
    equi-join on deletion variants finds every candidate — no n²
    comparisons, no shingles (which need longer text to discriminate).
    Candidates are verified with the exact ``levenshtein`` distance.

    ``max_edits`` currently supports 1 (each extra edit multiplies the
    variant fan-out by |s|; distance-1 covers the typo/near-alias
    dedup this exists for).

    Scale shape: variant generation is an in-row ``transform`` over a
    ``sequence`` (expression-only, no Python); the candidate join
    carries (variant, id, string) rows — strings here are short by
    contract; one distinct + one equi-join + the verify projection.
    Identical plan in the DuckDB oracle.

    Returns (id_a, id_b, text_a, text_b, distance) with
    ``distance <= max_edits``, each unordered pair once.
    """
    if max_edits != 1:
        raise ValueError("symspell_pairs supports max_edits=1")
    s = F.col(text_col)
    variants = F.array_union(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                F.substring(s, i + 1, F.length(s)),
            ),
        ),
    )
    ex = (
        df.select(
            F.col(id_col).alias("__id"),
            s.alias("__s"),
            F.explode(variants).alias("__v"),
        )
        .distinct()
    )
    a = ex.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("text_a"), "__v"
    )
    b = ex.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("text_b"), "__v"
    )
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"))
    return (
        a.join(b, "__v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "text_a", "text_b")
        .distinct()
        .withColumn("distance", dist.cast("int"))
        .filter(F.col("distance") <= max_edits)
    )


def lsh_recall_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Measure — don't guess — the MinHash-LSH design against exact
    ground truth on a SAMPLE: the banding theory says candidate
    probability is ``1-(1-j^r)^b`` (``lsh_parameter_plan`` tabulates
    it); this operator reports what the deployed (b, r) actually
    achieves on real shingle distributions, where duplicate-skew and
    tiny vocabularies break the independence assumptions the curve
    bakes in.

    Ground truth is exact n-gram Jaccard > ``threshold`` over every
    pair sharing at least one shingle (pairs sharing none have J = 0
    and can be neither truth nor — up to md5 collisions — candidates).
    The gram equi-join is quadratic in per-shingle document frequency:
    run this on a bounded sample (10^4-10^5 docs), never the full
    corpus — the operator exists precisely so the full corpus only
    ever pays the banded path.

    Returns ONE row: (n_truth, n_cand, tp, fn, fp, recall,
    precision) — fn are missed near-dups (recall loss), fp are wasted
    exact verifies (precision cost).
    """
    sh = shingle_rows(docs, id_col, text_col).persist()
    sh.count()  # materialize before the plan forks (cand + gram sides)
    cand = minhash_candidate_pairs(
        docs, id_col, text_col, n_bands, rows_per_band, shingles=sh
    )
    gh = sh.select(F.col(id_col), F.md5("shingle").alias("gh")).distinct()
    sizes = gh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = gh.select(F.col(id_col).alias("doc_a"), "gh")
    b = gh.select(F.col(id_col).alias("doc_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .filter(
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            > threshold
        )
        .select("doc_a", "doc_b")
    )
    joined = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    out = joined.agg(
        F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("c", F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("t").isNotNull() & F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(F.col("t").isNull() & F.col("c").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
    )
    sh.unpersist()
    return out.select(
        "n_truth",
        "n_cand",
        "tp",
        "fn",
        "fp",
        F.round(
            F.when(F.col("n_truth") > 0, F.col("tp") / F.col("n_truth")).otherwise(
                F.lit(1.0)
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_cand") > 0, F.col("tp") / F.col("n_cand")).otherwise(
                F.lit(1.0)
            ),
            6,
        ).alias("precision"),
    )


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    threshold: float = 1.05,
) -> DataFrame:
    """Embedding-space bitext mining with the margin criterion
    (Artetxe & Schwenk 2019; the CCMatrix/LASER mining rule): a
    source-target pair is aligned when its cosine stands out from each
    side's neighborhood, not merely when it is high —

        margin(x, y) = cos(x, y) /
            (Σ_{z∈NNk(x)} cos(x,z)/(2k) + Σ_{z∈NNk(y)} cos(y,z)/(2k))

    which cancels the hubness that makes raw-cosine thresholds pick the
    same "central" sentences for everything.  Pairs are kept when both
    directions agree (mutual best by margin) and margin > threshold.

    This operator is the SCORER on a candidate pair table it builds by
    broadcasting the smaller side (the exact-kNN-join shape, fine while
    one side fits a broadcast); at 10^12 scale feed it banded/IVF ANN
    candidates instead — the margin math downstream is identical.
    Complements the lexical bitext chain (`hreflang` → URL templates →
    Gale-Church → anchor tokens) with the embedding-space miner.

    Determinism: every rank (kNN membership, best-per-node) orders by
    (round(value, 9) DESC, id) so float-noise ties resolve identically
    cross-engine.  Returns (src_id, tgt_id, cos_sim, margin).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    # float32 inputs are widened BEFORE the fold: element products in
    # float32 carry ~1e-9 noise that flips 6-dp rounding against a
    # double-math oracle; all-double folds agree to ~1e-15
    s = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).cast("array<double>").alias("sv"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).cast("array<double>").alias("tv"),
    )
    pairs = t.join(F.broadcast(s)).select(
        "src_id", "tgt_id", cosine(F.col("sv"), F.col("tv")).alias("cos_sim")
    )
    wx = Window.partitionBy("src_id").orderBy(
        F.desc(F.round("cos_sim", 9)), "tgt_id"
    )
    wy = Window.partitionBy("tgt_id").orderBy(
        F.desc(F.round("cos_sim", 9)), "src_id"
    )
    ranked = pairs.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    dx = (
        ranked.filter(F.col("rx") <= k)
        .groupBy("src_id")
        .agg((F.sum("cos_sim") / (2.0 * k)).alias("dx"))
    )
    dy = (
        ranked.filter(F.col("ry") <= k)
        .groupBy("tgt_id")
        .agg((F.sum("cos_sim") / (2.0 * k)).alias("dy"))
    )
    scored = (
        ranked.join(dx, "src_id")
        .join(dy, "tgt_id")
        .withColumn("margin", F.col("cos_sim") / (F.col("dx") + F.col("dy")))
    )
    bx = Window.partitionBy("src_id").orderBy(
        F.desc(F.round("margin", 9)), "tgt_id"
    )
    by = Window.partitionBy("tgt_id").orderBy(
        F.desc(F.round("margin", 9)), "src_id"
    )
    return (
        scored.withColumn("bx", F.row_number().over(bx))
        .withColumn("by", F.row_number().over(by))
        .filter(
            (F.col("bx") == 1)
            & (F.col("by") == 1)
            & (F.col("margin") > threshold)
        )
        .select(
            "src_id",
            "tgt_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.round("margin", 6).alias("margin"),
        )
    )


def kcenter_coreset(
    points: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed_id=None,
    max_candidates: int = 1_000_000,
):
    """Greedy k-center coreset (Gonzalez 1985 farthest-point
    traversal) over an embedding candidate set — the diversity-first
    selector of the data-selection family (``budget_selection`` is
    quality-first, ``weighted_sample`` volume-first): each round picks
    the point with the LARGEST cosine distance to its nearest
    already-picked center, giving the classic 2-approximation to the
    optimal k-center cover.  The picked set is the "spanning" subset
    annotation / few-shot pools want: no two near-duplicates, every
    region of the space represented.

    Same contract and shape as ``mmr_rerank``: the input is a BOUNDED
    candidate frame (a per-bucket sample, a top-N, an IVF cell), the
    sequential pick-by-pick dependency runs on the driver over numpy —
    at 10^12 scale run it per IVF cell / stratum and union the picks
    (:func:`kcenter_per_cell`).  The bound is ENFORCED, not assumed:
    the collect is capped at ``max_candidates`` rows via a
    ``limit(max_candidates + 1)`` probe and raises ValueError above it
    (the ``small_edge_threshold`` discipline of the graph ops — a
    caller passing a full corpus frame must fail loudly, never OOM the
    driver).  Raise ``max_candidates`` explicitly to override.
    Determinism: the seed is ``seed_id`` if given else the
    lexicographically smallest id; argmax ties break to the smallest
    id via a (distance, -id) presort-free argmax on round-9-stable
    floats.

    Returns (id, pick_rank, dist_at_pick): dist_at_pick is the cosine
    distance to the nearest prior center when picked (the coverage
    radius achieved after rank r is the NEXT pick's distance) — rank 1
    (the seed) reports 0.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_candidates < 1:
        raise ValueError(
            f"max_candidates must be >= 1, got {max_candidates}"
        )
    rows = points.select(id_col, vec_col).limit(max_candidates + 1).collect()
    if len(rows) > max_candidates:
        raise ValueError(
            f"kcenter_coreset candidate frame exceeds max_candidates="
            f"{max_candidates}: the driver kernel is for bounded pools "
            f"(per-bucket sample / top-N / IVF cell). Pre-bound the "
            f"frame, use kcenter_per_cell, or raise max_candidates "
            f"explicitly."
        )
    if not rows:
        return points.sparkSession.createDataFrame(
            [], f"{id_col} long, pick_rank int, dist_at_pick double"
        )
    ids = [r[0] for r in rows]
    mat = np.array([list(map(float, r[1])) for r in rows])
    picks = _kcenter_greedy(ids, mat, k, seed_id)
    return points.sparkSession.createDataFrame(
        picks, f"{id_col} long, pick_rank int, dist_at_pick double"
    )


def _kcenter_greedy(ids, mat, k: int, seed_id=None):
    """The pure numpy Gonzalez greedy shared by :func:`kcenter_coreset`
    (driver kernel over a bounded pool) and :func:`kcenter_per_cell`
    (one executor task per cell) — ONE implementation, so the per-cell
    union is definitionally the same picks as running the driver kernel
    cell by cell.  Returns ``[(id, rank, dist_at_pick), ...]``."""
    import numpy as np

    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids = [ids[i] for i in order]
    mat = np.asarray(mat, dtype=float)[order]
    norms = np.linalg.norm(mat, axis=1)
    unit = np.divide(
        mat, norms[:, None], out=np.zeros_like(mat), where=norms[:, None] > 0
    )
    if seed_id is None:
        seed = 0  # smallest id after the presort
    else:
        if seed_id not in ids:
            raise ValueError(f"seed_id {seed_id!r} not in candidate set")
        seed = ids.index(seed_id)
    picks = [(ids[seed], 1, 0.0)]
    # min cosine distance to the picked set, maintained incrementally
    mind = 1.0 - unit @ unit[seed]
    mind[seed] = -1.0  # never re-picked
    for rank in range(2, min(k, len(ids)) + 1):
        best = int(np.argmax(np.round(mind, 9)))  # ties -> smallest id
        picks.append((ids[best], rank, float(mind[best])))
        mind = np.minimum(mind, 1.0 - unit @ unit[best])
        mind[best] = -1.0
    return picks


def kcenter_per_cell(
    points: DataFrame,
    cell_col: str,
    id_col: str,
    vec_col: str,
    k: int,
    max_cell_rows: int = 1_000_000,
) -> DataFrame:
    """The documented 100 TB recipe for :func:`kcenter_coreset` — "run
    it per IVF cell / stratum and union the picks" — as ONE distributed
    ``applyInPandas`` pass instead of a driver loop over cells: every
    cell's candidates land in one Arrow batch, the task runs the
    identical :func:`_kcenter_greedy` kernel, and the union of per-cell
    picks streams back as a DataFrame.  Diversity selection over a
    trillion-chunk corpus becomes |cells| independent bounded problems
    (cells from IVF assignment, LSH bucket, language stratum, ...), one
    shuffle on the cell key.

    A cell larger than ``max_cell_rows`` raises inside its task (the
    same fail-loud bound as the driver kernel's ``max_candidates`` —
    a skewed cell must be split upstream, not spilled into an O(N·k)
    grind).  Returns ``(cell_col, id_col, pick_rank, dist_at_pick)``
    with ranks local to each cell.
    """
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cell_type = dict(points.dtypes)[cell_col]
    schema = (
        f"{cell_col} {cell_type}, {id_col} long, "
        f"pick_rank int, dist_at_pick double"
    )

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_cell_rows:
            raise ValueError(
                f"kcenter_per_cell: cell "
                f"{pdf[cell_col].iloc[0]!r} has {len(pdf)} rows > "
                f"max_cell_rows={max_cell_rows}; split the cell "
                f"(finer IVF / sub-bucket) or raise the bound."
            )
        picks = _kcenter_greedy(
            pdf[id_col].tolist(),
            [list(map(float, v)) for v in pdf[vec_col]],
            k,
        )
        return pd.DataFrame(
            {
                cell_col: [pdf[cell_col].iloc[0]] * len(picks),
                id_col: [p[0] for p in picks],
                "pick_rank": [p[1] for p in picks],
                "dist_at_pick": [p[2] for p in picks],
            }
        )

    return (
        points.select(cell_col, id_col, vec_col)
        .groupBy(cell_col)
        .applyInPandas(_run, schema)
    )


def fellegi_sunter_link(
    left: DataFrame,
    right: DataFrame,
    block_cols: list,
    comparisons: list,
    *,
    match_threshold: float = 8.0,
    possible_threshold: float = 0.0,
) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969): score
    blocked candidate pairs by summing per-field log2 likelihood
    ratios — ``log2(m/u)`` when the field agrees (m = P(agree|match),
    u = P(agree|non-match)), ``log2((1-m)/(1-u))`` when it disagrees —
    and classify match / possible / non_match by threshold.  The
    entity-resolution core of every dedup system that must merge dirty
    registrations, crawl bylines, or user accounts that exact-key
    dedup cannot join.

    ``comparisons`` is ``[(name, agree_expr, m, u), ...]`` where
    ``agree_expr`` is a boolean Column over the joined frame (columns
    are prefixed ``a_`` / ``b_`` by the caller).  The log2 weights are
    computed HERE in Python and inlined as double literals, so a SQL
    oracle that inlines the same literals sums identical IEEE doubles
    — no cross-engine libm drift (the one place log2 may differ by an
    ulp).  Sum order is the list order on both sides; round(6) absorbs
    association drift.

    Scale shape: one equi-join on the block key (never all pairs —
    blocking IS the candidate generator; pick block keys stable under
    the expected dirt), then a single projection.  Returns the pair
    ids + per-field agreement booleans + weight + decision.
    """
    import math

    joined = left.join(right, block_cols)
    weight = F.lit(0.0)
    out_flags = []
    for name, agree, m, u in comparisons:
        w_agree = math.log2(m / u)
        w_disagree = math.log2((1.0 - m) / (1.0 - u))
        weight = weight + F.when(agree, F.lit(w_agree)).otherwise(
            F.lit(w_disagree)
        )
        out_flags.append(agree.alias(f"agree_{name}"))
    decision = (
        F.when(F.col("weight") >= match_threshold, "match")
        .when(F.col("weight") >= possible_threshold, "possible")
        .otherwise("non_match")
    )
    return joined.select(
        "*", *out_flags, F.round(weight, 6).alias("weight")
    ).withColumn("decision", decision)


def knn_shapley(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al. VLDB 2019): the
    Shapley value of every TRAINING point for a K-NN classifier has a
    closed form per test point — sort train points by similarity to
    the test point, then the recursion

        s_(n) = u_(n) / n
        s_(i) = s_(i+1) + (u_(i) - u_(i+1)) / max(i, K)

    where ``u_(i) = 1`` iff the i-th-nearest train point shares the
    test label.  Telescoped, ``s_(i)`` is a SUFFIX SUM over ranks —
    one cumulative window per test point walking farthest→nearest, no
    per-test iteration.  Points that help classify many test points
    score high; mislabeled/junk points go negative — the valuation
    used to prune harmful training data.

    Scale shape: test points broadcast (knn_join shape), ONE train
    scan, a rank + suffix-sum window per (test) partition, then one
    map-side-combinable mean over test points.  Ranking/ties: cosine
    descending with the train id as tie-break (engine-stable); all
    suffix-sum terms are small rationals accumulated in frame order on
    both engines, round(6) absorbs last-ulp association.

    Returns (id, mean_shapley, n_tests) — mean value per train point.
    """
    from pyspark.sql import Window

    from .retrieval import cosine

    t = test.select(
        F.col(id_col).alias("tid"),
        F.col(vec_col).alias("tvec"),
        F.col(label_col).alias("tlabel"),
    )
    tr = train.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        F.col(label_col).alias("nlabel"),
    )
    scored = tr.crossJoin(F.broadcast(t)).select(
        "tid",
        "nid",
        (F.col("nlabel") == F.col("tlabel")).cast("double").alias("u"),
        cosine(F.col("nvec"), F.col("tvec")).alias("cos"),
    )
    w_rank = Window.partitionBy("tid").orderBy(F.desc("cos"), F.asc("nid"))
    ranked = scored.select(
        "tid",
        "nid",
        "u",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(Window.partitionBy("tid")).alias("n"),
    )
    # s_i = u_n/n + sum_{j=i..n-1} (u_j - u_{j+1}) / max(j, K): build
    # the per-rank term, then a suffix cumulative sum ordered by rank
    # DESC (frame-order accumulation on both engines).
    w_next = Window.partitionBy("tid").orderBy("i")
    with_next = ranked.select(
        "*", F.lead("u").over(w_next).alias("u_next")
    )
    term = F.when(
        F.col("u_next").isNull(), F.col("u") / F.col("n")
    ).otherwise(
        (F.col("u") - F.col("u_next"))
        / F.greatest(F.col("i").cast("double"), F.lit(float(k)))
    )
    w_suffix = (
        Window.partitionBy("tid")
        .orderBy(F.desc("i"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    shap = with_next.select(
        "tid", "nid", F.sum(term).over(w_suffix).alias("s")
    )
    return shap.groupBy(F.col("nid").alias(id_col)).agg(
        F.round(F.avg("s"), 6).alias("mean_shapley"),
        F.count("*").alias("n_tests"),
    )


def sif_embeddings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    a: float = 1e-3,
    vocab_size: int = 50_000,
    remove_pc: bool = True,
    decimals: int = 6,
) -> DataFrame:
    """SIF document embeddings (Arora/Liang/Ma 2017, "A Simple but
    Tough-to-Beat Baseline for Sentence Embeddings"): each doc is the
    frequency-weighted average of its word vectors — weight
    ``a / (a + p(w))`` downweights stopwords by corpus unigram
    probability — followed by removal of the corpus' first (uncentered)
    principal component, which absorbs the shared "syntax direction".
    Word vectors are the repo's deterministic hashing-trick embedder
    (``core/embedder.py``: crc32 bucket + sign, so a single word's
    vector is ±e_h — the doc embedding is an importance-weighted hashed
    bag-of-words).  Better doc vectors for the SemDeDup / semantic_dedup
    family at zero model cost.

    Scale shape (three bounded passes, nothing corpus-sized on the
    driver):

    1. unigram model — per-partition ``Counter`` inside ``mapInPandas``
       emits (token, partial_count) rows (map-side combine in Python,
       so the shuffle carries distinct-tokens-per-partition, not
       tokens); one groupBy(token) shuffle; the driver collects only
       the top-``vocab_size`` rows (count desc, token asc — the
       vocab-bounded broadcast pattern of ``webtext.trigram_lm``).
       OOV tokens get count 1 (the Zipf tail all maps to the same
       minimal probability, exactly how the SIF reference code treats
       unseen words).
    2. doc vectors — ONE ``mapInPandas`` pass over (id, text) with the
       broadcast weight dict: Arrow-batched, numpy accumulation, no
       shuffle.
    3. common component — per-partition (n, XᵀX) partials (one d²-row
       per partition, the ``fit_pca`` tree-aggregation shape), driver
       ``eigh`` on the d×d second moment, sign pinned at the
       largest-|coordinate|; the projection subtract runs JVM-side
       with the dot product STAGED into its own column first (the
       repo's lambda-CSE rule — referencing the O(d) dot inside the
       per-element ``transform`` lambda would re-evaluate it d times).

    Tokenization is Python's ``\\w+`` on lowered text in BOTH passes
    (never a JVM regex twin — Java \\w is ASCII-only, Python's is
    Unicode-aware; splitting the two engines here would silently
    mis-weight non-ASCII tokens).  Float pipeline with no SQL twin →
    rows-only driver check; pytest pins the whole thing against a
    full-batch numpy reference at 1e-6 (``tests/test_pca.py``).

    Returns ``(id_col, sif: array<double>)`` rounded to ``decimals``.
    """
    import numpy as np

    from ..core.embedder import _TOKEN_RE

    # ---- pass 1: vocab-bounded unigram model ------------------------
    tok_schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def _token_partials(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col]:
                if text:
                    c.update(_TOKEN_RE.findall(text.lower()))
        if c:
            yield pd.DataFrame(
                {"token": list(c.keys()), "cnt": list(c.values())}
            )

    counts = (
        docs.select(text_col)
        .mapInPandas(_token_partials, tok_schema)
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    agg = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_vocab")
    ).first()
    total = int(agg["total"] or 0)
    if total == 0:
        raise ValueError("sif_embeddings: no tokens in corpus")
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)
    weights = {
        r["token"]: a / (a + r["cnt"] / total) for r in top.collect()
    }
    w_oov = a / (a + 1.0 / total)

    # ---- pass 2: weighted hashed bag-of-words per doc ----------------
    out_schema = T.StructType(
        [
            docs.schema[id_col],
            T.StructField("sif", T.ArrayType(T.DoubleType())),
        ]
    )

    def _doc_vecs(batches):
        import zlib
        from collections import Counter

        for pdf in batches:
            mat = np.zeros((len(pdf), dim), dtype=np.float64)
            for i, text in enumerate(pdf[text_col]):
                if not text:
                    continue
                toks = Counter(_TOKEN_RE.findall(text.lower()))
                n_tok = sum(toks.values())
                if not n_tok:
                    continue
                row = mat[i]
                for tok, cnt in toks.items():
                    h = zlib.crc32(tok.encode("utf-8"))
                    sign = 1.0 if (h >> 31) & 1 == 0 else -1.0
                    row[h % dim] += (
                        weights.get(tok, w_oov) * sign * cnt
                    )
                row /= n_tok
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sif": list(map(list, mat))}
            )

    vecs = docs.select(id_col, text_col).mapInPandas(_doc_vecs, out_schema)
    if not remove_pc:
        return vecs.select(
            id_col,
            F.transform("sif", lambda x: F.round(x, decimals)).alias("sif"),
        )
    vecs = vecs.persist()

    # ---- pass 3: uncentered top component, JVM-side subtract ---------
    gram_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def _gram_partials(batches):
        n = 0
        g = np.zeros((dim, dim))
        for pdf in batches:
            M = np.array(pdf["sif"].tolist(), dtype=np.float64)
            if M.size:
                n += M.shape[0]
                g += M.T @ M
        yield pd.DataFrame({"n": [n], "g": [g.ravel().tolist()]})

    parts = vecs.select("sif").mapInPandas(_gram_partials, gram_schema).collect()
    g_total = np.zeros((dim, dim))
    n_total = 0
    for r in parts:
        n_total += r["n"]
        g_total += np.array(r["g"]).reshape(dim, dim)
    if n_total == 0:
        raise ValueError("sif_embeddings: empty input")
    evals, evecs = np.linalg.eigh(g_total / n_total)
    u = evecs[:, int(np.argmax(evals))]
    if u[int(np.argmax(np.abs(u)))] < 0:
        u = -u
    u_arr = F.array(*[F.lit(float(x)) for x in u.tolist()])
    dot = F.aggregate(
        F.zip_with(F.col("sif"), u_arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    staged = vecs.select(id_col, "sif", dot.alias("__dot"))
    return staged.select(
        id_col,
        F.zip_with(
            "sif",
            u_arr,
            lambda v, ui: F.round(v - F.col("__dot") * ui, decimals),
        ).alias("sif"),
    )
