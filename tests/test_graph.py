"""Unit tests for the host link-graph analytics (operators/graph.py):
hand-computed degree expectations, an exact PageRank fixpoint case, and an
independent pure-Python integer reference for the general case. The
iterative operators keep only the blocks their output reads."""

from ideacrawler_spark.operators.graph import host_degrees, pagerank

from tests.test_round_fixed_cost import _persistent_rdds, _scanned_rdds


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_host_degrees_hand_graph(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
                       ("d", "a")])
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in host_degrees(e).collect()}
    assert got == {"a": (2, 2), "b": (1, 1), "c": (1, 2), "d": (1, 0)}


def test_pagerank_two_cycle_is_exact_fixpoint(spark):
    """a<->b: each node's whole rank flows to the other, so
    r' = 150000 + (85 * 1000000) // 100 = 1000000 — the initial value is
    an exact integer fixpoint and must be preserved bit-for-bit."""
    e = _edges(spark, [("a", "b"), ("b", "a")])
    got = {r["node"]: r["pr"] for r in pagerank(e, n_iter=6).collect()}
    assert got == {"a": 1_000_000, "b": 1_000_000}


def _pagerank_py(edges, n_iter, scale=1_000_000, d=(85, 100)):
    """Independent integer reference: same fixed-point model, dict-based."""
    d_num, d_den = d
    base = (d_den - d_num) * scale // d_den
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {n: scale for n in nodes}
    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += r[u] // outdeg[u]
        r = {n: base + (d_num * s[n]) // d_den for n in nodes}
    return r


def test_pagerank_matches_integer_reference(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"),
             ("d", "c"), ("e", "a")]
    before = _persistent_rdds(spark)
    pr = pagerank(_edges(spark, edges), n_iter=6)
    # the intermediate iterations' checkpoints are released
    assert _persistent_rdds(spark) - before <= _scanned_rdds([pr])
    got = {r["node"]: r["pr"] for r in pr.collect()}
    assert got == _pagerank_py(edges, n_iter=6)
    # dangling nodes (no out-edges would require e/no... here every node
    # with no IN-links sits at the base term after iteration 1
    assert got["d"] == 150_000 and got["e"] == 150_000


def test_pagerank_sink_node_keeps_base_mass(spark):
    """b is a pure sink (dangling): it accumulates but never emits;
    its mass leak is the documented simplification — totals shrink, the
    per-node values still match the integer reference exactly."""
    edges = [("a", "b"), ("c", "b")]
    got = {r["node"]: r["pr"]
           for r in pagerank(_edges(spark, edges), n_iter=3).collect()}
    assert got == _pagerank_py(edges, n_iter=3)
    assert got["a"] == got["c"] == 150_000


def test_trustrank_spam_island_converges_to_zero(spark):
    """TrustRank: only seeds carry the reset term, so a cluster with no
    path from the seed set ends at rank 0 while the seeded component
    keeps its mass; values match the integer reference with a seeded
    base vector."""
    from ideacrawler_spark.operators.graph import trustrank

    edges = [("a", "b"), ("b", "a"),          # seeded 2-cycle
             ("c", "d"), ("d", "c")]          # spam island, unreachable
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["pr"]
           for r in trustrank(_edges(spark, edges), seeds,
                              n_iter=6).collect()}
    assert got["c"] == 0 and got["d"] == 0
    # seeded reference: base/init only for 'a'
    base, scale = 150_000, 1_000_000
    r = {"a": scale, "b": 0}
    for _ in range(6):
        r = {"a": base + (85 * r["b"]) // 100,
             "b": (85 * r["a"]) // 100}
    assert got["a"] == r["a"] and got["b"] == r["b"]


def test_url_templates_pattern_counts(spark):
    from ideacrawler_spark.operators.urlfilter import url_templates

    df = spark.createDataFrame(
        [("http://a.example/cal/2024/1/5", "a.example"),
         ("http://a.example/cal/2023/12/31", "a.example"),
         ("http://b.example/cal/2024/3/9", "b.example"),
         ("http://a.example/about", "a.example"),
         ("http://a.example/p/7", "a.example")],
        "url string, host string")
    got = {r["pattern"]: (r["n_urls"], r["n_hosts"])
           for r in url_templates(df, min_urls=2).collect()}
    # the calendar trap aggregates across its digit axes; singletons
    # (/about, /p/7, b's lone calendar URL) fall below min_urls
    assert got == {"http://a.example/cal/N/N/N": (2, 1)}


def test_hits_star_and_integer_reference(spark):
    """Star x->{a,b,c}: x is the pure hub (auth 0, hub scale), a/b/c
    pure authorities (auth scale, hub 0) — an exact fixpoint of the
    max-normalized integer iteration; a second asymmetric graph is
    checked against an independent dict-based integer reference."""
    from ideacrawler_spark.operators.graph import hits

    star = _edges(spark, [("x", "a"), ("x", "b"), ("x", "c")])
    got = {r["node"]: (r["auth"], r["hub"])
           for r in hits(star, n_iter=4).collect()}
    assert got == {"x": (0, 1000), "a": (1000, 0),
                   "b": (1000, 0), "c": (1000, 0)}

    edges = [("x", "a"), ("x", "b"), ("y", "b"), ("b", "a")]

    def ref(edges, n_iter, scale=1000):
        nodes = sorted({u for e in edges for u in e})
        h = {n: scale for n in nodes}
        for _ in range(n_iter):
            araw = {n: 0 for n in nodes}
            for u, v in edges:
                araw[v] += h[u]
            m = max(max(araw.values()), 1)
            a = {n: (araw[n] * scale) // m for n in nodes}
            hraw = {n: 0 for n in nodes}
            for u, v in edges:
                hraw[u] += a[v]
            m = max(max(hraw.values()), 1)
            h = {n: (hraw[n] * scale) // m for n in nodes}
        return a, h

    a, h = ref(edges, 4)
    before = _persistent_rdds(spark)
    out = hits(_edges(spark, edges), n_iter=4)
    # the intermediate half-steps' checkpoints are released
    assert _persistent_rdds(spark) - before <= _scanned_rdds([out])
    got2 = {r["node"]: (r["auth"], r["hub"]) for r in out.collect()}
    assert got2 == {n: (a[n], h[n]) for n in a}
