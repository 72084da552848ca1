"""Statistics / rollup operators (A1-A9 of SURVEY.md §2.4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collection_stats(
    df: DataFrame, collection_col: str, dims: int = 768
) -> DataFrame:
    """A2: count + estimated size_mb = count·dims·4/2^20
    (collection_manager.py:241-244)."""
    return df.groupBy(collection_col).agg(
        F.count("*").alias("n_docs"),
        (F.count("*") * dims * 4 / 1048576.0).alias("size_mb"),
    )


def daily_counts_zero_filled(
    df: DataFrame, ts_col: str, start: str, end: str
) -> DataFrame:
    """A5: GROUP BY date + zero-fill missing days via a date spine
    (statistics_service.py:71-139).

    The spine is a ``sequence()`` of dates left-joined to the counts —
    the reference fills gaps in Python; here it's one generated relation.
    """
    spine = df.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
            )
        ).alias("day")
    )
    counts = df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(counts, "day", "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .orderBy("day")
    )


def dashboard_counts(df: DataFrame, type_col: str, value_col: str) -> DataFrame:
    """A6: conditional counts + a conversion-rate style ratio
    (statistics_service.py:15-69)."""
    return df.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col(type_col) == "click", 1)).alias("n_clicks"),
        F.count(F.when(F.col(type_col) == "view", 1)).alias("n_views"),
        F.count(F.when(F.col(type_col) == "error", 1)).alias("n_errors"),
        F.round(
            F.count(F.when(F.col(type_col) == "click", 1))
            / F.nullif(F.count(F.when(F.col(type_col) == "view", 1)), F.lit(0)),
            6,
        ).alias("click_through_rate"),
        F.round(F.avg(value_col), 6).alias("avg_value"),
    )


def mad_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    z_thresh: float = 3.5,
) -> DataFrame:
    """Robust per-key anomaly flags via the modified z-score
    (Iglewicz-Hoaglin): ``z = 0.6745 · (x − median) / MAD`` with
    ``|z| > 3.5`` flagged — the crawl-ops spike detector (a host whose
    daily fetch count explodes is a crawler trap or an incident, and
    mean/stddev z-scores are exactly what the spike itself corrupts;
    median/MAD do not move).

    Median and MAD are computed EXPLICITLY from order statistics (the
    mean of ranks ``(n+1) div 2`` and ``(n+2) div 2``), never from an
    engine ``median()`` builtin — interpolation conventions differ
    across engines, order statistics do not, so the DuckDB oracle is
    exact.  A key whose MAD is 0 (over half its values identical)
    yields NULL z and no flag — the standard degenerate-case answer.

    Scale shape: two rank-window passes partitioned by key (the second
    re-uses the first's hash partitioning) plus two small per-key
    aggregate joins; rows carry (key, value) only.

    Returns the input's (key, value) rows plus
    (med, mad, robust_z, is_spike).
    """
    from pyspark.sql import Window

    def _per_key_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy(F.col(col), F.col(value_col))
        wn = Window.partitionBy(key_col)
        ranked = (
            frame.withColumn("__rn", F.row_number().over(w))
            .withColumn("__n", F.count(F.lit(1)).over(wn))
        )
        return (
            # middle order statistics: odd n -> rn*2 == n+1; even n ->
            # the two ranks with rn*2 == n and rn*2 == n+2
            ranked.filter(
                (F.col("__rn") * 2 == F.col("__n"))
                | (F.col("__rn") * 2 == F.col("__n") + 1)
                | (F.col("__rn") * 2 == F.col("__n") + 2)
            )
            .groupBy(key_col)
            .agg(F.avg(col).alias(out))
        )
    # rank twice: medians of the values, then of |value - med|
    med = (
        df.select(key_col, value_col)
        .transform(lambda fr: _per_key_median(fr, value_col, "med"))
    )
    with_med = df.join(med, key_col)
    dev = with_med.withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = _per_key_median(dev, "__dev", "mad")
    z = F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad")
    return (
        dev.drop("__dev")
        .join(mad, key_col)
        .withColumn(
            "robust_z",
            F.when(F.col("mad") > 0, F.round(z, 6)),
        )
        .withColumn(
            "is_spike",
            F.coalesce(
                F.abs(F.col("robust_z")) > F.lit(float(z_thresh)), F.lit(False)
            ),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    sample_n: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): to
    estimate the corpus mean of ``value_col`` with minimum variance
    from ``sample_n`` labeled examples, stratum h gets

        n_h ∝ N_h · σ_h

    — big AND internally-varied strata get the labels; a huge but
    homogeneous stratum (one template farm) needs few.  This is the
    eval-set design step of a curation pipeline: where to spend a
    fixed human-annotation budget across sources/languages.

    σ_h is the population std from sparse sums (E[x²] − E[x]²,
    clamped at 0 against float cancellation); zero-variance strata get
    no optimal share but the largest-remainder rounding still floors
    every allocation into integers that sum EXACTLY to ``sample_n``
    (quota method; remainder ties break by stratum ascending), capped
    at the stratum's own size (excess redistributed by the same
    remainder order is deliberately NOT done — a capped stratum
    reports ``alloc_n = n_docs`` and the caller rebalances, keeping
    the operator a pure projection of the stats).

    Returns (stratum, n_docs, sigma, alloc_frac, alloc_n).  Scale
    shape: one groupBy(stratum) over the scan; everything after is
    strata-sized (windows over the tiny stratum table).
    """
    from pyspark.sql import Window

    if sample_n <= 0:
        raise ValueError(f"sample_n must be positive, got {sample_n}")
    st = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(value_col).cast("double")).alias("s1"),
        F.sum(
            F.col(value_col).cast("double") * F.col(value_col).cast("double")
        ).alias("s2"),
    )
    st = st.select(
        "stratum",
        "n_docs",
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("s2") / F.col("n_docs")
                - (F.col("s1") / F.col("n_docs"))
                * (F.col("s1") / F.col("n_docs")),
            )
        ).alias("sigma"),
    )
    tot = st.agg(F.sum(F.col("n_docs") * F.col("sigma")).alias("w_tot"))
    alloc = st.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_docs",
        "sigma",
        F.when(
            F.col("w_tot") > 0,
            F.col("n_docs") * F.col("sigma") / F.col("w_tot"),
        )
        .otherwise(F.lit(0.0))
        .alias("alloc_frac"),
    )
    # largest-remainder rounding to integers summing to sample_n —
    # strata tables are tiny, the single-partition windows here are
    # over |strata| rows, never the corpus
    raw = F.col("alloc_frac") * F.lit(float(sample_n))
    with_parts = alloc.select(
        "*",
        F.floor(raw).cast("long").alias("base_n"),
        (raw - F.floor(raw)).alias("rem"),
    )
    short = with_parts.agg(
        (F.lit(sample_n) - F.sum("base_n")).alias("short")
    )
    w = Window.orderBy(F.desc(F.round("rem", 9)), "stratum")
    return (
        with_parts.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(w))
        .select(
            "stratum",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round("sigma", 6).alias("sigma"),
            F.round("alloc_frac", 6).alias("alloc_frac"),
            F.least(
                F.col("n_docs"),
                F.col("base_n")
                + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0),
            )
            .cast("long")
            .alias("alloc_n"),
        )
    )


#: Poisson(1) inverse-CDF thresholds (cumulative probabilities for
#: k = 0..6), inlined as exact repr literals on both engines so the
#: deterministic resample weights are bit-identical cross-engine.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    n_replicates: int = 20,
    salt: str = "boot1",
) -> DataFrame:
    """Poisson bootstrap of a corpus mean (Chamandy et al. 2012 — the
    bootstrap that actually runs distributed: each replicate weights
    every row by an independent Poisson(1) draw, so no replicate needs
    a same-size resample materialized).  Deterministic: the draw for
    (replicate b, row) inverts the Poisson(1) CDF at the md5 hash
    fraction of ``salt|b|id`` — byte-identical weights on any engine,
    any partitioning.

    Scale shape — NO explode: the scan computes ``2·B`` running
    aggregates in ONE pass (sum of w_b·x and sum of w_b per
    replicate, B generated column pairs), then the B replicate means
    stack into rows and the percentile CI reads off the rank window of
    a B-row frame.  At B = 20 the extra scan cost is 40 cheap
    expression columns — compare an explode plan that would 20× the
    row count.  Returns one row per replicate (replicate, n_eff,
    mean_value, ci_lo, ci_hi) with the CI replicated, 6 dp.
    """
    u_for = lambda b: (  # noqa: E731 — hash fraction in [0, 1)
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}|{b}|"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )

    def w_for(b):
        u = u_for(b)
        w = F.lit(len(POISSON1_CDF))
        for k in range(len(POISSON1_CDF) - 1, -1, -1):
            w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
        return w

    # weights are STAGED as projection columns before the aggregate:
    # 40 deep CASE expressions inside one hash aggregate push Spark's
    # whole-stage codegen over the method-split threshold (observed
    # IllegalAccessError from the Janino nested-class split on some
    # inputs); a projection stage keeps each generated function small
    staged = df.select(
        F.col(value_col).alias("__v"),
        *[w_for(b).alias(f"w{b}") for b in range(n_replicates)],
    )
    aggs = []
    for b in range(n_replicates):
        aggs.append(
            F.sum(F.col(f"w{b}") * F.col("__v")).alias(f"sx{b}")
        )
        aggs.append(F.sum(f"w{b}").cast("long").alias(f"sw{b}"))
    one = staged.agg(*aggs)
    reps = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("replicate"),
                        F.col(f"sw{b}").alias("n_eff"),
                        (
                            F.col(f"sx{b}")
                            / F.col(f"sw{b}").cast("double")
                        ).alias("m"),
                    )
                    for b in range(n_replicates)
                ]
            )
        ).alias("r")
    ).select("r.replicate", "r.n_eff", "r.m")
    wall = Window.partitionBy(F.lit(1))
    wr = Window.partitionBy(F.lit(1)).orderBy("m", "replicate")
    lo_rank = 2
    hi_rank = n_replicates - 1
    ranked = reps.select(
        "*", F.row_number().over(wr).alias("rk")
    ).select(
        "*",
        F.max(F.when(F.col("rk") == lo_rank, F.col("m"))).over(wall).alias(
            "lo"
        ),
        F.max(F.when(F.col("rk") == hi_rank, F.col("m"))).over(wall).alias(
            "hi"
        ),
    )
    return ranked.select(
        "replicate",
        "n_eff",
        F.round("m", 6).alias("mean_value"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
    )


def jackknife_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Delete-one-GROUP jackknife of a corpus mean — the standard
    error that respects the real dependence unit (documents within a
    source correlate; delete-one-document jackknife understates the
    variance, the classic cluster-sampling mistake in corpus stats).
    ``T_(−g) = (S − S_g) / (N − N_g)`` per group, and
    ``var = (G−1)/G · Σ (T_(−g) − mean(T_(−·)))²``.

    Scale shape: one map-side-combinable groupBy(group) to |G| rows
    carrying exact integer/na sums; every leave-one-out estimate and
    the variance come from windows over that tiny frame.  Returns one
    row per group (group, n_rows, mean_without, jack_se) with the
    jackknife SE replicated, 6 dp.
    """
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("ng"),
        F.sum(value_col).alias("sg"),
    )
    w = Window.partitionBy(F.lit(1))
    g = per.select(
        "*",
        F.sum("ng").over(w).alias("n"),
        F.sum("sg").over(w).alias("s"),
        F.count("*").over(w).alias("G"),
    ).select(
        "*",
        (
            (F.col("s") - F.col("sg"))
            / (F.col("n") - F.col("ng")).cast("double")
        ).alias("t_wo"),
    )
    g2 = g.select("*", F.avg("t_wo").over(w).alias("tbar"))
    var = (
        (F.col("G") - 1).cast("double")
        / F.col("G")
        * F.sum(
            (F.col("t_wo") - F.col("tbar"))
            * (F.col("t_wo") - F.col("tbar"))
        ).over(w)
    )
    return g2.select(
        F.col("grp").alias(group_col),
        F.col("ng").alias("n_rows"),
        F.round("t_wo", 6).alias("mean_without"),
        F.round(F.sqrt(var), 6).alias("jack_se"),
    )
