"""Webgraph operators: link extraction gate, RFC 3986 resolution,
host-edge aggregation, and PageRank vs an independent numpy power
iteration.  Driver-contract parity for the two webgraph queries lives
in test_entry_oracle.py (link_graph / pagerank_hosts oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from clawrag_spark.operators import webgraph as WG


def _links_df(spark, rows):
    return spark.createDataFrame(rows, "src string, href string")


# ---------------------------------------------------------------- extract


def test_extract_links_gate_and_filters(spark):
    page = (
        '<!DOCTYPE html><html><body>'
        '<a href="/a">a</a> <a href="https://x.com/b#frag">b</a> '
        '<a href="mailto:me@x.com">m</a> <a href="javascript:void(0)">j</a> '
        '<a href="">empty</a> <a href="#top">frag-only</a>'
        "</body></html>"
    )
    truncated = page[:40]  # magic passes, closing tag missing
    latin1 = "café naïve".encode("latin-1")
    rows = [
        ("https://h.example/p/1", page.encode("utf-8")),
        ("https://h.example/p/2", truncated.encode("utf-8")),
        ("https://h.example/p/3", latin1),
        ("https://h.example/p/4", b"%PDF-1.4 junk"),
        ("https://h.example/p/5", b""),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = sorted(
        (r.src, r.href) for r in WG.extract_links(pages).collect()
    )
    # only the complete html page contributes; fragments stripped,
    # mailto/javascript/empty/fragment-only dropped
    assert got == [
        ("https://h.example/p/1", "/a"),
        ("https://h.example/p/1", "https://x.com/b"),
    ]


# ---------------------------------------------------------------- resolve


@pytest.mark.parametrize(
    "src,href,want",
    [
        # absolute passthrough
        ("https://a.com/d/p", "https://b.com/x", "https://b.com/x"),
        ("https://a.com/d/p", "http://b.com/x", "http://b.com/x"),
        # protocol-relative takes base scheme
        ("https://a.com/d/p", "//c.com/y", "https://c.com/y"),
        ("http://a.com/d/p", "//c.com/y", "http://c.com/y"),
        # root-relative takes base origin
        ("https://a.com/d/p", "/top", "https://a.com/top"),
        # directory-relative joins the base directory
        ("https://a.com/d/p", "x.html", "https://a.com/d/x.html"),
        ("https://a.com/d/sub/p", "x", "https://a.com/d/sub/x"),
        # no path on base → directory is /
        ("https://a.com", "x", "https://a.com/x"),
        # dot segments
        ("https://a.com/d/p", "./x", "https://a.com/d/x"),
        ("https://a.com/d/sub/p", "../x", "https://a.com/d/x"),
        ("https://a.com/a/b/c/p", "../../x", "https://a.com/a/x"),
    ],
)
def test_resolve_links_cases(spark, src, href, want):
    out = WG.resolve_links(_links_df(spark, [(src, href)])).collect()
    assert [(r.src, r.dst) for r in out] == [(src, want)]


def test_resolve_links_drops_non_http(spark):
    out = WG.resolve_links(
        _links_df(spark, [("https://a.com/p", "ftp://f.com/x")])
    ).collect()
    assert out == []


# ---------------------------------------------------------------- edges


def test_host_edges_weights(spark):
    resolved = spark.createDataFrame(
        [
            ("https://a.com/1", "https://a.com/2"),
            ("https://a.com/1", "https://a.com/3"),
            ("https://a.com/2", "https://b.com/x"),
        ],
        "src string, dst string",
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in WG.host_edges(resolved).collect()
    }
    assert got == {("a.com", "a.com"): 2, ("a.com", "b.com"): 1}


# -------------------------------------------------------------- pagerank


def _np_pagerank(edges, k, damping):
    """Independent dense power iteration with dangling redistribution —
    same fixed-k synchronous semantics as webgraph.pagerank."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for s, d, w in edges:
        W[idx[s], idx[d]] += w
    out = W.sum(axis=1)
    P = np.divide(W, out[:, None], out=np.zeros_like(W), where=out[:, None] > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(k):
        dangling = r[out == 0].sum()
        r = (1 - damping) / n + damping * (P.T @ r + dangling / n)
    return dict(zip(nodes, r))


def test_pagerank_matches_numpy_and_conserves_mass(spark):
    edges = [
        ("a", "b", 2.0),
        ("a", "c", 1.0),
        ("b", "c", 1.0),
        ("c", "a", 1.0),
        ("c", "d", 3.0),  # d is dangling
        ("e", "a", 1.0),  # e has no in-links
    ]
    df = spark.createDataFrame(
        edges, "src_host string, dst_host string, n_links double"
    )
    got = {
        r.n: r.rank
        for r in WG.pagerank(df, weight="n_links", k=5, damping=0.85).collect()
    }
    want = _np_pagerank(edges, k=5, damping=0.85)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)
    # dangling redistribution conserves total mass exactly
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_unweighted_symmetric_cycle(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src_host string, dst_host string"
    )
    got = [r.rank for r in WG.pagerank(df, k=4).collect()]
    assert len(got) == 3
    for r in got:  # symmetric cycle → uniform stationary ranks
        assert r == pytest.approx(1.0 / 3, abs=1e-12)


def test_pagerank_rejects_bad_k(spark):
    df = spark.createDataFrame([("a", "b")], "src_host string, dst_host string")
    with pytest.raises(ValueError):
        WG.pagerank(df, k=0)


# ---------------------------------------------------------------- anchors


def test_extract_anchor_texts_pairs_and_trim(spark):
    page = (
        '<!DOCTYPE html><body>'
        '<a href="/a"> padded text </a>'
        '<a href="https://x.com/b#frag" class="ext">ext link</a>'
        '<a href="/c"><b>nested</b> tail</a>'
        '<a href="mailto:z@q.com">mail</a>'
        '<a href="/d"></a>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [("https://h.example/p", page.encode("utf-8"))],
        "url string, html binary",
    )
    got = sorted(
        (r.href, r.anchor) for r in WG.extract_anchor_texts(pages).collect()
    )
    # nested-markup links are skipped (pattern can't cross inner tags —
    # documented bound); fragment stripped; mailto dropped; trimmed
    assert got == [
        ("/a", "padded text"),
        ("/d", ""),
        ("https://x.com/b", "ext link"),
    ]


def test_resolve_links_preserves_anchor_column(spark):
    df = spark.createDataFrame(
        [("https://a.com/d/p", "../x", "click me")],
        "src string, href string, anchor string",
    )
    out = WG.resolve_links(df).collect()
    assert [(r.src, r.anchor, r.dst) for r in out] == [
        ("https://a.com/d/p", "click me", "https://a.com/x")
    ]


def test_anchor_stats_counts_and_drops_empty(spark):
    resolved = spark.createDataFrame(
        [
            ("https://a.com/1", "home", "https://b.com/x"),
            ("https://a.com/2", "home", "https://b.com/y"),
            ("https://a.com/1", "", "https://b.com/z"),
            ("https://a.com/1", "docs", "https://c.com/d"),
        ],
        "src string, anchor string, dst string",
    )
    got = {
        (r.dst_host, r.anchor): r.n_mentions
        for r in WG.anchor_stats(resolved).collect()
    }
    assert got == {("b.com", "home"): 2, ("c.com", "docs"): 1}


def test_hits_matches_numpy_reference(spark):
    """k synchronous L2-normalized rounds must match a dense numpy
    power iteration on the same adjacency."""
    import numpy as np

    from clawrag_spark.operators.webgraph import hits

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"),
        ("c", "e"), ("d", "e"), ("e", "a"),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string")
    got = {
        r["n"]: (r["authority"], r["hub"])
        for r in hits(df, k=20).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    auth = np.ones(len(nodes))
    hub = np.ones(len(nodes))
    for _ in range(20):
        auth = A.T @ hub
        auth /= np.linalg.norm(auth) or 1.0
        hub = A @ auth
        hub /= np.linalg.norm(hub) or 1.0
    for n in nodes:
        assert abs(got[n][0] - auth[idx[n]]) < 1e-9
        assert abs(got[n][1] - hub[idx[n]]) < 1e-9
    # c receives from 3 hubs: the top authority; a links to two strong
    # authorities: among the top hubs
    assert max(got, key=lambda n: got[n][0]) == "c"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        hits(df, k=0)


def test_hits_driver_and_distributed_paths_agree(spark):
    """The adaptive driver kernel (small_edge_threshold) and the
    distributed loop share the synchronous schedule exactly."""
    from clawrag_spark.operators.webgraph import hits

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"),
        ("c", "e"), ("d", "e"), ("e", "a"), ("f", "a"),
        ("iso_src", "iso_dst"),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string")
    drv = {r["n"]: (r["authority"], r["hub"])
           for r in hits(df, k=7).collect()}
    dist = {r["n"]: (r["authority"], r["hub"])
            for r in hits(df, k=7, small_edge_threshold=0).collect()}
    assert set(drv) == set(dist)
    for n in drv:
        assert abs(drv[n][0] - dist[n][0]) < 1e-9
        assert abs(drv[n][1] - dist[n][1]) < 1e-9


def test_trustrank_spam_farm_scores_zero(spark):
    """Seeded pagerank = TrustRank: a link farm unreachable from the
    seeds gets exactly zero trust no matter how densely it interlinks,
    seed-reachable nodes get positive trust, and the scores match a
    dense numpy power iteration."""
    import numpy as np
    from clawrag_spark.operators.webgraph import pagerank

    good = [("s", "a"), ("a", "b"), ("b", "s"), ("a", "c")]
    farm = [("x", "y"), ("y", "x"), ("x", "z"), ("z", "x"), ("y", "z")]
    edges = spark.createDataFrame(
        good + farm, ["src_host", "dst_host"]
    ).withColumn("n_links", F.lit(1))
    seeds = spark.createDataFrame([("s",)], "host string")
    k, d = 7, 0.85
    got = {
        r["n"]: r["rank"]
        for r in pagerank(
            edges, weight="n_links", k=k, damping=d, seeds=seeds
        ).collect()
    }

    nodes = sorted({x for e in good + farm for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    P = np.zeros((len(nodes), len(nodes)))
    for s_, t in good + farm:
        P[idx[s_], idx[t]] = 1.0
    out_deg = P.sum(axis=1)
    svec = np.zeros(len(nodes))
    svec[idx["s"]] = 1.0
    r = svec.copy()
    for _ in range(k):
        contrib = np.zeros(len(nodes))
        dangling = 0.0
        for i in range(len(nodes)):
            if out_deg[i]:
                contrib += r[i] * P[i] / out_deg[i]
            else:
                dangling += r[i]
        r = (1 - d) * svec + d * (contrib + dangling * svec)
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12, n
    assert got["x"] == got["y"] == got["z"] == 0.0
    assert min(got["s"], got["a"], got["b"], got["c"]) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        pagerank(edges, seeds=spark.createDataFrame([("nope",)], "h string"))


def test_link_reciprocity_semantics(spark):
    """a<->b reciprocate, a->c does not, self-loops are ignored, and
    duplicate weighted edges don't double-count."""
    from clawrag_spark.operators.webgraph import link_reciprocity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "a"), ("a", "b")],
        ["src_host", "dst_host"],
    )
    got = {r["host"]: r.asDict() for r in link_reciprocity(edges).collect()}
    assert got["a"]["n_out_hosts"] == 2          # b, c (self-loop dropped)
    assert got["a"]["n_reciprocated"] == 1       # only b links back
    assert got["a"]["reciprocity"] == 0.5
    assert got["b"] == {"host": "b", "n_out_hosts": 1,
                        "n_reciprocated": 1, "reciprocity": 1.0}
    assert "c" not in got                        # c has no out-links


# --------------------------------------------------- label propagation


def _lpa_reference(edges, max_iter=10):
    """Pure-python synchronous LPA with self-vote and min-label ties —
    the independent twin of label_propagation_communities."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    rounds, converged = 0, False
    for _ in range(max_iter):
        rounds += 1
        new = {}
        for n in sorted(adj):
            votes = Counter(labels[m] for m in adj[n])
            votes[labels[n]] += 1
            # min-label tie-break: highest count, then smallest label
            top = max(votes.values())
            new[n] = min(lbl for lbl, c in votes.items() if c == top)
        if new == labels:
            converged = True
            labels = new
            break
        labels = new
    return labels, converged, rounds


def test_lpa_matches_pure_python_and_recovers_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must label each
    clique uniformly, the Spark rounds must agree with the pure-python
    reference exactly (same self-vote + min-label determinism)."""
    c1 = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    c2 = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = c1 + c2 + [("a0", "b0")]
    want, want_conv, _ = _lpa_reference(edges)

    df = spark.createDataFrame(edges, ["src_host", "dst_host"])
    out = WG.label_propagation_communities(df, max_iter=10)
    got = {r["node"]: r["community"] for r in out.collect()}
    assert got == want
    assert len({got[f"a{i}"] for i in range(1, 4)}) == 1
    assert len({got[f"b{i}"] for i in range(1, 4)}) == 1
    conv = out.select("converged").first()["converged"]
    assert conv == want_conv


def test_lpa_reports_nonconvergence_on_oscillator(spark):
    """A single edge (2-node bipartite graph) oscillates under
    synchronous LPA... unless the self-vote dampens it: with self-vote
    each node keeps its own label forever (1 vote own + 1 neighbor,
    tie → min) — so THIS converges to the min label or stalemate.
    Pin whatever the deterministic rule produces and that the flag
    matches the pure-python reference."""
    edges = [("x", "y")]
    want, want_conv, _ = _lpa_reference(edges)
    df = spark.createDataFrame(edges, ["src_host", "dst_host"])
    out = WG.label_propagation_communities(df, max_iter=6)
    got = {r["node"]: r["community"] for r in out.collect()}
    assert got == want
    assert out.select("converged").first()["converged"] == want_conv


# ---------------------------------------------------------------- k-core


def _py_core_numbers(edge_list):
    """Batagelj-Zaversnik peel, the textbook O(E) reference: repeatedly
    remove a minimum-degree node; its degree at removal (capped by the
    running max) is its coreness."""
    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(ns) for n, ns in adj.items()}
    core = {}
    k = 0
    while deg:
        n = min(deg, key=lambda x: (deg[x], x))
        k = max(k, deg[n])
        core[n] = k
        for m in adj[n]:
            if m in deg and m != n:
                deg[m] -= 1
        del deg[n]
        for m in adj[n]:
            adj.get(m, set()).discard(n)
    return core


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "src_host string, dst_host string"
    )


def test_core_numbers_matches_peel_reference(spark):
    # clique K4 (core 3) + a triangle (core 2) bridged by a path of
    # pendants (core 1); direction and duplicate edges must not matter
    pairs = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),                         # K4
        ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),   # triangle
        ("d", "p1"), ("p1", "p2"), ("p2", "t1"),    # bridge path
        ("b", "a"), ("a", "b"),             # dupes/reverse
        ("p2", "p2"),                       # self-loop dropped
    ]
    got = {
        r.node: r.coreness
        for r in WG.core_numbers(_edges_df(spark, pairs)).collect()
    }
    want = _py_core_numbers(pairs)
    assert got == want
    row = WG.core_numbers(_edges_df(spark, pairs)).collect()[0]
    assert row.converged and row.rounds >= 1


def test_core_numbers_random_graph_matches_reference(spark):
    import random

    rng = random.Random(20260819)
    nodes = [f"h{i}" for i in range(40)]
    pairs = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(160)
        }
    )
    got = {
        r.node: r.coreness
        for r in WG.core_numbers(_edges_df(spark, pairs)).collect()
    }
    assert got == _py_core_numbers(pairs)


# ------------------------------------------------- mirror detection


def test_mirror_hosts_full_and_partial(spark):
    rows = (
        # full mirror: b carries all 4 of its replicas on a
        [(f"https://a.example/p{i}", f"d{i}") for i in range(1, 5)]
        + [("https://a.example/extra", "d9")]
        + [(f"https://b.example/p{i}", f"d{i}") for i in range(1, 5)]
        # partial: only 2 shared replicas -> below min_shared
        + [("https://c.example/p1", "d1"), ("https://c.example/p2", "d2"),
           ("https://c.example/own", "dc")]
    )
    df = spark.createDataFrame(rows, ["url", "doc_hash"])
    got = {
        (r.host_a, r.host_b): r
        for r in WG.mirror_hosts(df).collect()
    }
    ab = got[("a.example", "b.example")]
    assert ab.shared_replicas == 4
    assert (ab.n_a, ab.n_b) == (5, 4)
    assert ab.containment == 1.0 and ab.is_mirror == 1
    ac = got[("a.example", "c.example")]
    assert ac.shared_replicas == 2 and ac.is_mirror == 0
    assert abs(ac.containment - 2 / 3) < 1e-6
    assert got[("b.example", "c.example")].is_mirror == 0


def test_mirror_hosts_stop_digest_guard(spark):
    # one boilerplate digest on 20 hosts would create 190 pairs; the
    # guard drops it before the join, so NO pairs come out at all
    rows = [(f"https://h{i:02d}.example/boiler", "bp") for i in range(20)]
    df = spark.createDataFrame(rows, ["url", "doc_hash"])
    assert WG.mirror_hosts(df).count() == 0
    # under the fanout cap the same digest is legitimate mirroring
    few = rows[:4]
    got = WG.mirror_hosts(
        spark.createDataFrame(few, ["url", "doc_hash"]),
        min_shared=1,
    ).collect()
    assert len(got) == 6  # C(4,2) host pairs


def test_mirror_hosts_same_path_different_bytes_not_shared(spark):
    # /index everywhere with DIFFERENT bodies must never count
    rows = [
        ("https://x.example/index", "dx"),
        ("https://y.example/index", "dy"),
    ]
    assert WG.mirror_hosts(
        spark.createDataFrame(rows, ["url", "doc_hash"])
    ).count() == 0


class TestCommonNeighborPairs:
    """Co-citation / bibliographic coupling: hand-checkable graph with
    a hub that must be excluded by the degree cap."""

    def _edges(self, spark):
        rows = [
            # s1 and s2 both cite a and b -> (a,b) co-cited by 2
            ("s1", "a"), ("s1", "b"),
            ("s2", "a"), ("s2", "b"),
            # s3 cites a and c -> (a,c) co-cited once only
            ("s3", "a"), ("s3", "c"),
            # hub cites everything: must NOT create pairs when capped
            ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
            ("hub", "e"),
            # self-loop ignored
            ("a", "a"),
        ]
        return spark.createDataFrame(rows, ["src_host", "dst_host"]).withColumn(
            "n_links", F.lit(1).cast("long")
        )

    def test_cocitation_counts_and_hub_cap(self, spark):
        got = {
            (r["host_a"], r["host_b"]): r["n_common"]
            for r in WG.cocitation_pairs(
                self._edges(spark), max_out_degree=4, min_count=2
            ).collect()
        }
        assert got == {("a", "b"): 2}
        # with the hub admitted, its C(5,2) pairs flood in
        loose = WG.cocitation_pairs(
            self._edges(spark), max_out_degree=10, min_count=2
        ).count()
        assert loose > 1

    def test_coupling_transpose(self, spark):
        got = {
            (r["host_a"], r["host_b"]): r["n_common"]
            for r in WG.bib_coupling_pairs(
                self._edges(spark), max_in_degree=2, min_count=2
            ).collect()
        }
        # s1 and s2 share targets a and b, but a has in-degree 4 (s1,
        # s2, s3, hub) > 2 -> excluded; b has in-degree 3 > 2 too.
        assert got == {}
        got2 = {
            (r["host_a"], r["host_b"]): r["n_common"]
            for r in WG.bib_coupling_pairs(
                self._edges(spark), max_in_degree=10, min_count=2
            ).collect()
        }
        assert got2[("s1", "s2")] == 2
        assert ("hub", "s1") in got2  # hub shares a and b with s1

    def test_plan_no_cartesian_no_python(self, spark):
        plan = (
            WG.cocitation_pairs(self._edges(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
