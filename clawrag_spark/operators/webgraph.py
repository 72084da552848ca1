"""Webgraph analytics: link extraction, URL resolution, PageRank.

The reference never builds a link graph (its crawl surface stops at
per-document extraction — backend/src/services/extraction_service.py),
but a Common-Crawl-scale corpus pipeline needs one: outlink extraction
feeds frontier expansion, host-level authority scores (PageRank) feed
crawl prioritization and quality weighting (the CC "host ranks"
sidecar every serious web corpus ships).

Everything here is expression-only until the PageRank loop, and the
loop is one shuffle per iteration:

- link extraction: one ``regexp_extract_all`` + ``explode`` over the
  decoded html (gated on the html magic prefix BEFORE decoding, so
  non-UTF-8 payloads — PDFs, latin-1, binary junk — never reach the
  string cast and both Spark and a SQL oracle see identical input),
- URL resolution: pure CASE/regex expressions (absolute, protocol-
  relative, root-relative, directory-relative; first-'#' fragment
  strip; bounded ``/./`` and ``/seg/../`` collapse) — engine-portable,
  no UDF,
- ``pagerank``: weighted, with dangling-mass redistribution; the
  per-source out-weight is joined ONCE up front (``frac`` persisted),
  each iteration is contrib-shuffle on dst + a 1-row broadcast of the
  dangling mass, and ``localCheckpoint(eager=False)`` truncates the
  growing lineage exactly like ``connected_components`` does.

Scale shape at 10^12 pages: extraction is scan-side (no shuffle);
edge aggregation shuffles 2 host strings + a count; PageRank state is
one row per HOST (~10^8), frac one row per host-edge — both orders of
magnitude below page count, and every join key is the natural hash
key.  No driver-side loops over data (the only ``count()`` is the
node-count scalar, computed once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: byte prefix every generated html page starts with; checking it on
#: the BINARY column keeps undecodable payloads away from the string
#: cast (Spark would replacement-char them, a SQL oracle would error —
#: the gate makes both engines see the same rows)
_HTML_MAGIC = b"<!DOCTYPE html>"

#: closing-tag suffix completing the document gate.  Truncated
#: payloads can end mid-UTF-8-sequence: Spark's string cast substitutes
#: U+FFFD where a strict decoder (a SQL oracle's ``decode``) raises, so
#: the two engines would disagree on the decoded input.  Requiring the
#: closing tag keeps only fully-delivered documents — valid UTF-8 by
#: construction — so both engines see byte-identical text.  Truncated
#: pages belong to the extraction pipeline's parse-failure path
#: (pipeline.py), not the link graph.
_HTML_SUFFIX = b"</html>"

#: href attribute matcher — deliberately simple (double-quoted hrefs
#: only) so the same pattern runs identically under Java regex and RE2
_HREF_PATTERN = r'href="([^"]*)"'

#: (href, anchor-text) pair matcher.  Anchor group is ``[^<]*`` — a
#: link whose text contains nested markup cannot reach ``</a>`` and is
#: skipped entirely (documented bound; the curation use-case is
#: aggregate statistics over plain-text anchors, not rich-text
#: rendering), and the pattern behaves identically under Java regex
#: and RE2.
_ANCHOR_PATTERN = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


def _complete_html(pages: DataFrame, html_col: str) -> DataFrame:
    """Complete-document gate: magic prefix AND closing-tag suffix,
    both compared on the BINARY column (see ``_HTML_SUFFIX`` for why
    the suffix matters)."""
    return pages.filter(
        F.substring(F.col(html_col), 1, len(_HTML_MAGIC)) == F.lit(_HTML_MAGIC)
    ).filter(
        F.substring(F.col(html_col), -len(_HTML_SUFFIX), len(_HTML_SUFFIX))
        == F.lit(_HTML_SUFFIX)
    )


def _href_filters(df: DataFrame) -> DataFrame:
    """Shared href hygiene: first-'#' fragment strip, drop empties and
    non-navigational schemes.  Applied identically by the link and
    anchor extractors so both feed ``resolve_links`` the same keyspace."""
    return (
        df.withColumn("href", F.substring_index(F.col("href"), "#", 1))
        .filter(F.col("href") != "")
        .filter(~F.col("href").rlike(r"^(mailto|javascript|data|tel):"))
    )


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, href) — one row per double-quoted href in each html page.

    Scan-side only: complete-document gate on the binary column (magic
    prefix AND closing-tag suffix — see ``_HTML_SUFFIX`` for why both),
    decode, ``regexp_extract_all``, ``explode``.  Empty hrefs and
    non-http(s) schemes (mailto:, javascript:, data:) are dropped after
    fragment stripping.
    """
    html_str = F.col(html_col).cast("string")
    links = _complete_html(pages, html_col).select(
        F.col(url_col).alias("src"),
        F.explode(
            F.regexp_extract_all(html_str, F.lit(_HREF_PATTERN), F.lit(1))
        ).alias("href"),
    )
    # first-'#' split (NOT last): fragments can't contain '#' but
    # queries can contain anything — and split_part/substring_index
    # agree on first-split semantics across engines
    return _href_filters(links)


def extract_anchor_texts(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, href, anchor) — one row per ``<a href="...">text</a>``.

    Anchor text is the classic web-corpus sidecar (it describes the
    TARGET page better than the target's own boilerplate — the signal
    behind anchor-augmented retrieval corpora like MS MARCO and CC
    anchor datasets).  Same scan-side shape as ``extract_links``: the
    two capture groups are pulled as parallel arrays by the SAME
    pattern, zipped positionally, exploded once; same complete-document
    gate and href hygiene, so (src, href) keys match ``extract_links``
    row-for-row wherever the href sits inside an ``<a>`` element whose
    text is markup-free (see ``_ANCHOR_PATTERN`` for the nested-markup
    bound).  Anchors are whitespace-trimmed but otherwise verbatim.
    """
    html_str = F.col(html_col).cast("string")
    pat = F.lit(_ANCHOR_PATTERN)
    pairs = (
        _complete_html(pages, html_col)
        .select(
            F.col(url_col).alias("src"),
            F.explode(
                F.arrays_zip(
                    F.regexp_extract_all(html_str, pat, F.lit(1)).alias("href"),
                    F.regexp_extract_all(html_str, pat, F.lit(2)).alias("anchor"),
                )
            ).alias("p"),
        )
        .select(
            "src",
            F.col("p.href").alias("href"),
            F.trim(F.col("p.anchor")).alias("anchor"),
        )
    )
    return _href_filters(pairs)


def resolve_links(
    links: DataFrame, src_col: str = "src", href_col: str = "href"
) -> DataFrame:
    """(src, dst) with ``href`` resolved to an absolute URL against
    ``src`` — RFC 3986 §5 relative resolution as pure expressions:

    - absolute (``scheme://``) hrefs pass through,
    - ``//host/p`` takes the base scheme,
    - ``/p`` takes the base origin,
    - anything else joins to the base URL's directory,
    - then ``/./`` segments collapse and ``/seg/../`` pairs cancel
      (three global-replace passes — nesting deeper than 3 survives,
      documented bound; crawl hrefs beyond that are vanishingly rare
      and resolve consistently on every engine either way).

    Everything is CASE + regex, so a SQL oracle can replicate it
    operator-for-operator (DuckDB twin: q_link_graph's oracle).
    Payload columns besides (src, href) — e.g. anchor text — pass
    through unchanged.
    """
    src = F.col(src_col)
    href = F.col(href_col)
    scheme = F.regexp_extract(src, r"^([a-z][a-z0-9+.-]*)://", 1)
    origin = F.regexp_extract(src, r"^([a-z][a-z0-9+.-]*://[^/]+)", 1)
    path = F.regexp_replace(src, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    base_dir = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"[^/]*$", "")
    )
    raw = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(origin, base_dir, href))
    )
    dst = F.regexp_replace(raw, r"/\./", "/")
    for _ in range(3):  # bounded /seg/../ cancellation
        dst = F.regexp_replace(dst, r"/[^/]+/\.\./", "/")
    # withColumn + drop (not a bare select) so payload columns riding
    # along — e.g. extract_anchor_texts' anchor — survive resolution
    out = links.withColumn("dst", dst).drop(href_col)
    if src_col != "src":
        out = out.withColumnRenamed(src_col, "src")
    return out.filter(F.col("dst").rlike(r"^https?://"))


def anchor_stats(resolved_anchors: DataFrame) -> DataFrame:
    """Aggregate resolved (src, anchor, dst) rows into per-(dst_host,
    anchor) mention counts — the anchor-text sidecar table keyed the
    way consumers read it (what does the web call this host?).  One
    shuffle on the (host, anchor) pair; counts are algebraic, so the
    map-side partial aggregation absorbs the nav-link skew (the same
    anchor repeated across a host's pages combines before shuffling)."""
    return (
        resolved_anchors.select(
            url_host(F.col("dst")).alias("dst_host"), "anchor"
        )
        .filter(F.col("anchor") != "")
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").cast("long").alias("n_mentions"))
    )


def url_host(col) -> "F.Column":
    """Host part of an absolute URL (expression)."""
    return F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)


def host_edges(resolved: DataFrame) -> DataFrame:
    """Aggregate a page-level (src, dst) link table to weighted
    host-level edges (src_host, dst_host, n_links).  One shuffle on the
    host pair; self-edges (intra-host links) are kept — PageRank with
    self-loops is well-defined and intra-host structure is real signal
    for crawl scheduling."""
    return (
        resolved.select(
            url_host(F.col("src")).alias("src_host"),
            url_host(F.col("dst")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str | None = None,
    k: int = 10,
    damping: float = 0.85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution —
    or, with ``seeds``, TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004): teleport restricted to a trusted seed set.

    rank'(n) = (1-d)·s(n) + d * (Σ_{(m,n)∈E} rank(m)·w(m,n)/wsum(m)
                                 + dangling·s(n))

    where ``s`` is the teleport vector — uniform 1/N without seeds,
    1/|S∩nodes| on seed nodes and 0 elsewhere with them — and
    ``dangling`` is the total rank held by nodes with no out-edges.
    Trust flows only along links reachable from the seeds, so spam
    hosts that trade links among themselves score ~0 no matter how
    dense their farm is; the rank/trust RATIO is the classic
    link-spam-mass signal.  Exactly ``k`` synchronous iterations
    (fixed k keeps the result engine-reproducible — a tolerance stop
    would make the output depend on float summation order).

    Plan per iteration: one shuffle (contrib groupBy dst), a left join
    back onto the node set, and a 1-row crossJoin broadcast carrying
    the dangling mass — the scalar never round-trips the driver.
    ``frac`` (edge weight / source out-weight) is computed and
    persisted ONCE; ``localCheckpoint(eager=False)`` truncates lineage
    each round so the plan stays O(1) across iterations.  The seed
    table (curated, thousands of rows at most) broadcasts into the
    node set once, up front.
    """
    if k < 1:
        raise ValueError(f"pagerank needs k >= 1, got {k}")
    w = (F.col(weight) if weight else F.lit(1)).cast("double")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
    nodes = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()  # scalar metadata, computed once
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    frac = (
        e.join(wsum, "src")
        .select("src", "dst", (F.col("w") / F.col("wsum")).alias("frac"))
        .persist()
    )
    # eager materialization (fork-then-cache rule: every round reads
    # frac) + the repo's iterative-width rule: k synchronous rounds
    # each pay task launches per partition, so a host-level graph
    # (thousands of nodes, not billions) must not iterate at full
    # cluster width; web-scale edge sets still keep every core.
    n_edges = frac.count()
    width = max(
        1,
        min(
            edges.sparkSession.sparkContext.defaultParallelism,
            -(-n_edges // 50_000),
        ),
    )
    frac_cached, nodes_cached = frac, nodes
    if width < frac.rdd.getNumPartitions():
        frac = frac_cached.coalesce(width)
    if width < nodes.rdd.getNumPartitions():
        nodes = nodes_cached.coalesce(width)
    sources = wsum.select(F.col("src").alias("n"))
    if seeds is None:
        # uniform teleport — expression shapes kept EXACTLY as the
        # pagerank oracle unrolls them (base precomputed in Python,
        # dangling divided by N: x/N and x*(1/N) differ in IEEE)
        nodes_s = nodes
        base_expr = F.lit((1.0 - damping) / n_nodes)
        dangling_expr = F.col("dm") / F.lit(float(n_nodes))
        init_rank = F.lit(1.0 / n_nodes)
    else:
        seed_set = seeds.select(F.col(seeds.columns[0]).alias("n")).distinct()
        n_seeds = seed_set.join(nodes, "n", "left_semi").count()
        if n_seeds == 0:
            raise ValueError("pagerank seeds: no seed appears in the graph")
        # trust vector s joins the (curated, broadcast-size) seed list
        # into the node set ONCE; every iteration reads the column
        nodes_s = nodes.join(
            F.broadcast(seed_set.withColumn("__seed", F.lit(1))), "n", "left"
        ).select(
            "n",
            F.when(F.col("__seed").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
        base_expr = F.lit(1.0 - damping) * F.col("s")
        dangling_expr = F.col("dm") * F.col("s")
        init_rank = F.col("s")
    ranks = nodes_s.select("n", init_rank.alias("rank"))
    for _ in range(k):
        contrib = (
            frac.join(
                ranks.select(F.col("n").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("frac") * F.col("rank")).alias("c"))
        )
        dangling = ranks.join(sources, "n", "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            nodes_s.join(contrib.select(F.col("dst").alias("n"), "c"), "n", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "n",
                (
                    base_expr
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + dangling_expr)
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    # materialize the final ranks BEFORE releasing the caches: the
    # loop's checkpoints are lazy, so unpersisting first would make the
    # caller's first action evaluate all k rounds with frac/nodes
    # recomputed from scratch each round
    ranks = ranks.localCheckpoint(eager=True)
    nodes_cached.unpersist()
    frac_cached.unpersist()
    return ranks


def label_propagation_communities(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by label propagation (Raghavan, Albert &
    Kumara 2007), the deterministic synchronous variant: labels start
    as the node's own id; each round every node adopts the label most
    frequent among its neighbors PLUS itself (the self-vote), ties
    broken to the lexicographically smallest label.  The self-vote and
    the total tie order make every round a pure function of the
    previous labeling — no RNG, no visit order — so the result is
    reproducible across engines and partitionings (the published
    algorithm's async visit order is inherently nondeterministic;
    synchronous LPA may instead oscillate on bipartite-ish structures,
    so the loop stops at convergence OR ``max_iter`` and reports
    which).

    Returns (node, community, converged, rounds).  Complements the
    global link-quality family (`pagerank`/`hits`/`trustrank`): LPA
    groups hosts into link neighborhoods — template farms and blog
    rings surface as dense communities with low trust.

    Scale shape per round: one neighbor-label equi-join + shuffle
    (E rows of label strings), one (node, label) count agg with
    map-side partials, one window top-1 per node; lineage truncated
    with lazy localCheckpoint like the pagerank loop, and the change
    count that drives the convergence test is the round's only
    driver-visible scalar.
    """
    from pyspark.sql import Window as _W

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym.count()
    labels = (
        sym.select(F.col("a").alias("n")).distinct()
        .select("n", F.col("n").alias("lbl"))
        .persist()
    )
    labels.count()
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = sym.join(
            labels.select(F.col("n").alias("b"), "lbl"), "b"
        ).select(F.col("a").alias("n"), "lbl")
        votes = (
            neigh.union(labels.select("n", "lbl"))
            .groupBy("n", "lbl")
            .agg(F.count("*").alias("c"))
        )
        w = _W.partitionBy("n").orderBy(F.desc("c"), F.asc("lbl"))
        new_labels = (
            votes.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("n", "lbl")
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("x")
            .join(labels.alias("y"), "n")
            .filter(F.col("x.lbl") != F.col("y.lbl"))
            .count()
        )
        old = labels
        labels = new_labels.persist()
        labels.count()
        old.unpersist()
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    return labels.select(
        F.col("n").alias("node"),
        F.col("lbl").alias("community"),
        F.lit(converged).alias("converged"),
        F.lit(rounds).alias("rounds"),
    )


def _hits_driver(spark, edge_rows, k: int) -> DataFrame:
    """Driver-side numpy twin of the distributed HITS loop: identical
    synchronous schedule (auth' = L2norm(Aᵀ·hub), then
    hub' = L2norm(A·auth')), identical zero-norm handling.  Runs when
    the distinct host-edge count fits one task — 5·k shuffles on a
    tiny graph is scheduler latency, not computation."""
    import numpy as np
    from pyspark.sql import types as T

    nodes = sorted({r[0] for r in edge_rows} | {r[1] for r in edge_rows})
    idx = {n: i for i, n in enumerate(nodes)}
    si = np.array([idx[r[0]] for r in edge_rows], dtype=np.int64)
    di = np.array([idx[r[1]] for r in edge_rows], dtype=np.int64)
    n = len(nodes)
    auth = np.ones(n)
    hub = np.ones(n)
    for _ in range(k):
        auth = np.zeros(n)
        np.add.at(auth, di, hub[si])
        norm = float(np.sqrt((auth * auth).sum()))
        auth = auth / norm if norm > 0 else np.zeros(n)
        hub = np.zeros(n)
        np.add.at(hub, si, auth[di])
        norm = float(np.sqrt((hub * hub).sum()))
        hub = hub / norm if norm > 0 else np.zeros(n)
    node_type = (
        T.LongType() if nodes and isinstance(nodes[0], int) else T.StringType()
    )
    schema = T.StructType(
        [
            T.StructField("n", node_type),
            T.StructField("authority", T.DoubleType()),
            T.StructField("hub", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [(nd, float(auth[i]), float(hub[i])) for i, nd in enumerate(nodes)],
        schema,
    )


def hits(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    k: int = 10,
    small_edge_threshold: int = 200_000,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999) — PageRank's
    complement for crawl seeding: authorities are the pages worth
    EXTRACTING, hubs are the pages worth EXPANDING the frontier from.

    Exactly ``k`` synchronous rounds of auth'(n) = Σ_{(m,n)} hub(m),
    hub'(m) = Σ_{(m,n)} auth'(n), each L2-normalized through a 1-row
    broadcast crossJoin (the norm never round-trips the driver).
    Fixed k keeps the result engine-reproducible, the same contract as
    :func:`pagerank`; lineage is truncated per round with lazy
    ``localCheckpoint`` and small graphs iterate at reduced width (the
    repo's iterative-width rule).

    Adaptive execution (the :func:`~clawrag_spark.operators.dataset.
    connected_components` precedent): a HOST graph below
    ``small_edge_threshold`` distinct edges runs the identical k-round
    synchronous power iteration as one numpy kernel on the driver —
    5 × k chained shuffles on a graph that fits in one task is pure
    scheduler latency, and the host graph (not the page graph) is
    routinely this small even for large crawls.  Above the threshold
    the distributed path runs unchanged; both paths share the same
    update schedule and L2 norms, pinned against each other in pytest.

    Returns (n, authority, hub).
    """
    if k < 1:
        raise ValueError(f"hits needs k >= 1, got {k}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().persist()
    n_edges = e.count()
    if n_edges <= small_edge_threshold:
        rows = e.collect()
        e.unpersist()
        return _hits_driver(edges.sparkSession, rows, k)
    nodes = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
        .persist()
    )
    nodes.count()
    width = max(
        1,
        min(
            edges.sparkSession.sparkContext.defaultParallelism,
            -(-n_edges // 50_000),
        ),
    )
    e_cached, nodes_cached = e, nodes
    if width < e.rdd.getNumPartitions():
        e = e_cached.coalesce(width)
    if width < nodes.rdd.getNumPartitions():
        nodes = nodes_cached.coalesce(width)

    def _normalized(frame: DataFrame, col: str) -> DataFrame:
        norm = frame.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm")
        )
        return frame.crossJoin(F.broadcast(norm)).select(
            "n",
            F.when(F.col("__norm") > 0, F.col(col) / F.col("__norm"))
            .otherwise(0.0)
            .alias(col),
        )

    scores = nodes.select("n", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"))
    for _ in range(k):
        auth = (
            e.join(scores.select(F.col("n").alias("src"), "hub"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
        )
        auth = _normalized(
            nodes.join(auth.select(F.col("dst").alias("n"), "auth"), "n", "left")
            .select("n", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth",
        )
        hub = (
            e.join(auth.select(F.col("n").alias("dst"), "auth"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
        )
        hub = _normalized(
            nodes.join(hub.select(F.col("src").alias("n"), "hub"), "n", "left")
            .select("n", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
        scores = auth.join(hub, "n").localCheckpoint(eager=False)
    scores = scores.localCheckpoint(eager=True)
    e_cached.unpersist()
    nodes_cached.unpersist()
    return scores.select("n", F.col("auth").alias("authority"), "hub")


def link_reciprocity(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Per-host link reciprocity — the nepotistic-link signal
    (Fetterly/Gyöngyi link-spam heuristics): hosts whose out-links are
    mostly reciprocated are trading links (webrings, link farms),
    while organically popular hosts receive far more than they return.
    Pairs with TrustRank: high in-degree + high reciprocity + low
    trust = spam mass.

    For each host: distinct out-neighbors, how many of them link
    back, and the reciprocated fraction.  Self-loops are excluded
    (intra-host links are navigation, not endorsement).

    Scale shape: one distinct over host pairs, then ONE self
    equi-join on the reversed pair key (the reversed side is the same
    frame re-aliased — same partitioning, AQE reuses the exchange),
    one groupBy(src).  Host-pair rows are two strings + nothing: the
    shuffle carries no page-level data.

    Returns (host, n_out_hosts, n_reciprocated, reciprocity) with the
    fraction rounded to 6.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    marked = e.join(
        rev.withColumn("__back", F.lit(1)), ["a", "b"], "left"
    )
    return (
        marked.groupBy(F.col("a").alias("host"))
        .agg(
            F.count("*").alias("n_out_hosts"),
            F.sum(F.coalesce(F.col("__back"), F.lit(0)))
            .cast("long")
            .alias("n_reciprocated"),
            F.round(
                F.sum(F.coalesce(F.col("__back"), F.lit(0)))
                / F.count("*"),
                6,
            ).alias("reciprocity"),
        )
    )


def core_numbers(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    max_iter: int = 50,
) -> DataFrame:
    """Coreness of every node by h-index iteration (Lu, Zhou, Zhang &
    Stanley 2016, "The H-index of a network node and its relation to
    degree and coreness"): start every node at its degree, then each
    round replace a node's value with the H-operator over its
    neighbors' values (the largest h such that >= h neighbors hold a
    value >= h).  The sequence is monotonically non-increasing and its
    fixpoint IS the k-core number, so the loop needs no peeling order
    — every round is a pure function of the previous values, making
    the result reproducible across engines and partitionings (the
    classical Batagelj-Zaversnik peel walks nodes in a driver-side
    priority order that cannot be distributed).

    Coreness complements the link-quality family the way LPA does:
    high coreness + low trustrank marks the densely inter-linked spam
    cores that pagerank alone inflates; coreness 1 hosts are the
    crawl frontier's leaf tier.

    Returns (node, coreness, converged, rounds).  The undirected view
    of the edge set is used (a link is a tie regardless of direction),
    self-loops dropped.

    Scale shape per round: one neighbor-value equi-join (E rows of a
    long each), one per-node descending window sort (row_number), one
    max agg with map-side partials — no arrays cross the shuffle, so
    a hot host with 10^6 neighbors costs a sort spill, not an OOM.
    Lineage is truncated per round with lazy localCheckpoint; the
    change count driving convergence is the round's only
    driver-visible scalar.  Rounds to converge track the graph's
    "h-index depth" (tens on web graphs, not diameter-bounded).
    """
    from pyspark.sql import Window as _W

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym.count()
    vals = (
        sym.groupBy(F.col("a").alias("n"))
        .agg(F.count("*").cast("long").alias("v"))
        .persist()
    )
    vals.count()
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = sym.join(
            vals.select(F.col("n").alias("b"), "v"), "b"
        ).select(F.col("a").alias("n"), "v")
        w = _W.partitionBy("n").orderBy(F.desc("v"))
        new_vals = (
            neigh.withColumn("__r", F.row_number().over(w))
            .filter(F.col("v") >= F.col("__r"))
            .groupBy("n")
            .agg(F.max("__r").cast("long").alias("v"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_vals.alias("x")
            .join(vals.alias("y"), "n")
            .filter(F.col("x.v") != F.col("y.v"))
            .count()
        )
        old = vals
        vals = new_vals.persist()
        vals.count()
        old.unpersist()
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    return vals.select(
        F.col("n").alias("node"),
        F.col("v").alias("coreness"),
        F.lit(converged).alias("converged"),
        F.lit(rounds).alias("rounds"),
    )


# ------------------------------------------------- mirror detection


def mirror_hosts(
    pages: DataFrame,
    url_col: str = "url",
    digest_col: str = "doc_hash",
    min_shared: int = 3,
    containment_threshold: float = 0.5,
    max_digest_hosts: int = 16,
) -> DataFrame:
    """Mirror/alias host detection: pairs of hosts serving the same
    content at the same paths — the classic Common-Crawl pathology
    (Bharat & Broder 1999, "Mirror, mirror on the web") where one site
    answers under dozens of names (www/non-www, country aliases, CDN
    hostnames, parked duplicates) and naive per-url dedup misses the
    structural relationship the crawler should act on (pick ONE
    canonical host, stop fetching the rest).

    A shared *replica* is a (path, body-digest) pair served by both
    hosts: same path AND same bytes — much stronger than content
    equality alone (syndicated articles) or path equality alone
    (every site has ``/index``).  Per host pair:

    ``containment = shared / least(n_a, n_b)`` over each host's
    distinct replica count, so a small full mirror of a large site
    still scores 1.0.  ``is_mirror`` requires ``min_shared`` replicas
    AND the containment threshold — singleton accidental collisions
    never flag.

    Scale shape at 10^12 pages: one distinct on (host, path, digest)
    with map-side partials; digests served by more than
    ``max_digest_hosts`` hosts are dropped BEFORE the self-join (the
    stop-digest skew guard shared with the passage-dup family —
    empty-page and boilerplate digests would otherwise explode the
    join quadratically); the (path, digest) self equi-join then
    shuffles 16-byte keys, never text, and host-pair counts aggregate
    with map-side partials.  Never all-pairs over hosts.

    Reference parity: the reference dedups whole uploads by file
    sha256 (backend/src/services/docling_service.py:127-133); this is
    the host-structural generalization a crawl corpus needs.
    """
    u = F.col(url_col)
    rep = (
        pages.select(
            F.regexp_extract(u, r"^https?://([^/?#]+)", 1).alias("host"),
            F.regexp_replace(u, r"^https?://[^/?#]+", "").alias("path"),
            F.col(digest_col).alias("digest"),
        )
        .filter(F.col("host") != "")
        .dropDuplicates(["host", "path", "digest"])
    )
    # stop-digest guard: a digest on too many hosts is boilerplate,
    # not mirroring — and the quadratic term the join must never see
    fanout = rep.groupBy("digest").agg(
        F.countDistinct("host").alias("n_hosts")
    )
    rep = rep.join(
        F.broadcast(fanout.filter(F.col("n_hosts") > max_digest_hosts)),
        "digest",
        "left_anti",
    )
    sizes = rep.groupBy("host").agg(F.count("*").alias("n_pages"))
    a = rep.select(
        "path", "digest", F.col("host").alias("host_a")
    )
    b = rep.select(
        "path", "digest", F.col("host").alias("host_b")
    )
    shared = (
        a.join(b, ["path", "digest"])
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("shared_replicas"))
    )
    out = (
        shared.join(
            F.broadcast(
                sizes.select(
                    F.col("host").alias("host_a"),
                    F.col("n_pages").alias("n_a"),
                )
            ),
            "host_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("host").alias("host_b"),
                    F.col("n_pages").alias("n_b"),
                )
            ),
            "host_b",
        )
    )
    containment = F.round(
        F.col("shared_replicas") / F.least("n_a", "n_b"), 6
    )
    return out.select(
        "host_a",
        "host_b",
        "shared_replicas",
        "n_a",
        "n_b",
        containment.alias("containment"),
        (
            (F.col("shared_replicas") >= F.lit(int(min_shared)))
            & (containment >= F.lit(float(containment_threshold)))
        ).cast("int").alias("is_mirror"),
    )


def _common_neighbor_pairs(
    e: DataFrame,
    key: str,
    val: str,
    max_degree: int,
    min_count: int,
) -> DataFrame:
    """Shared core of co-citation / bibliographic coupling: pairs of
    ``val`` nodes sharing >= ``min_count`` distinct ``key`` neighbors,
    with ``key`` nodes of degree > ``max_degree`` excluded BEFORE the
    self-join.  The cap is the scale guard: a key node of degree k
    yields C(k, 2) pairs, so the quadratic blow-up concentrates in
    mega-hubs — whose links also carry the least discrimination (the
    idf argument) — and removing them bounds the join output by
    |edges| · max_degree / 2."""
    deg = e.groupBy(key).agg(F.count("*").alias("_d"))
    kept = e.join(
        F.broadcast(deg.filter(F.col("_d") <= max_degree).select(key)),
        key,
        "left_semi",
    )
    x = kept.select(F.col(key).alias("_k"), F.col(val).alias("host_a"))
    y = kept.select(F.col(key).alias("_k"), F.col(val).alias("host_b"))
    return (
        x.join(y, "_k")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_count)
    )


def cocitation_pairs(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    max_out_degree: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Co-citation relatedness (Small 1973): two hosts are related when
    many common SOURCES link to both — the classic related-page signal
    (and, inverted, a link-farm detector: a clique of hosts co-cited
    exclusively by one spam network).  Returns (host_a, host_b,
    n_common) = distinct co-citing sources per pair.

    Scale shape: distinct host-pair edges, a broadcast degree filter
    dropping sources above ``max_out_degree`` (see
    ``_common_neighbor_pairs`` for the C(k,2) bound), ONE self
    equi-join on the source key, one count aggregation.  Shuffles
    carry host-string pairs only.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    return _common_neighbor_pairs(e, "s", "t", max_out_degree, min_count)


def bib_coupling_pairs(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    max_in_degree: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Bibliographic coupling (Kessler 1963) — the transpose of
    co-citation: two hosts are related when they link to many common
    TARGETS.  Where co-citation needs others to have noticed the pair,
    coupling works for brand-new hosts from their own out-links — the
    cold-start side of related-host discovery.  Returns (host_a,
    host_b, n_common) = distinct shared targets; targets with
    in-degree > ``max_in_degree`` are excluded (same hub/idf logic).
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    return _common_neighbor_pairs(e, "t", "s", max_in_degree, min_count)
