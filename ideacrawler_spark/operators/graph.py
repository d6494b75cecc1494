"""Host-level link-graph analytics: degrees and PageRank.

A crawler's frontier IS a link graph — the reference materializes the
per-page outlink sets that induce it (job.go's analyzed-URL callback;
see `plans/round.py` D2/S8), and host-level authority scores are the
standard curation signal built on top (prioritize/weight hosts by
centrality, demote link farms). This module computes them Spark-first:

* ``host_degrees`` — exact in/out degree per node: two partial-agg
  groupBys and one full-outer join, all shuffle-keyed on the node id.

* ``pagerank`` — the classic damped PageRank in INTEGER fixed-point
  arithmetic so the result is bit-reproducible across engines (the
  repo-wide oracle discipline: no floats near a value hash). Each
  iteration is one equi-join (ranks onto edges, shuffle-keyed on src)
  plus one partial-aggregated groupBy(dst) — the textbook join-based
  formulation that scales linearly with |E| and never materializes a
  driver-side graph. Lineage is truncated with an eager
  ``localCheckpoint`` per iteration (same discipline as
  ``textops/dedup.py:dedup_components``).

Fixed-point model: ranks carry ``scale`` units per 1.0 of the per-node
formulation r'(v) = (1-d) + d * sum_{u->v} r(u)/outdeg(u), evaluated as

    r'(v) = base + (d_num * S(v)) div d_den
    base  = ((d_den - d_num) * scale) div d_den          (exact, Python)
    S(v)  = sum over in-edges of  r(u) div outdeg(u)      (BIGINT)

All quantities stay non-negative BIGINTs, so Spark's truncating ``div``
and DuckDB's flooring ``//`` agree and the unrolled oracle SQL rebuilds
the identical registers. Dangling nodes (no out-edges) leak their mass —
the standard simplification; totals are not renormalized.

Overflow headroom: S(v) is bounded by total mass ≈ |V| * scale, so with
the default scale 10^6 the BIGINT path is safe to |V| ~ 10^11 hosts —
comfortably past the 10^10-URL design point.
"""

from pyspark.sql import DataFrame, functions as F

from ideacrawler_spark.operators.sqltext import release


def host_degrees(edges: DataFrame) -> DataFrame:
    """Exact (node, out_deg, in_deg) over an (src, dst) edge table.

    Scale shape: two independent partial-aggregated groupBys (map-side
    combine makes each shuffle row a per-task partial) and one
    full-outer join on the node id. No driver collect, no skew hazard
    beyond the aggregation itself (a mega-host is one combined row per
    map task).
    """
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def pagerank(edges: DataFrame, n_iter: int = 6, scale: int = 1_000_000,
             damping: tuple = (85, 100),
             seeds: DataFrame = None,
             shuffle_partitions: int | None = None) -> DataFrame:
    """Integer fixed-point PageRank over an (src, dst) edge table.

    Returns (node, pr) with pr in units of 1/``scale`` under the
    per-node formulation (a node with no in-links converges to
    base = (1-d)*scale). ``n_iter`` is fixed (no convergence probe) so
    the unrolled SQL oracle can rebuild the exact integers.

    ``seeds`` (optional, a (node) frame) switches the reset vector from
    uniform to the seed set — TrustRank (Gyöngyi et al., VLDB 2004):
    only seed nodes receive the base term and the initial mass, so
    authority flows outward from the trusted set and spam clusters
    unreachable from seeds converge to 0. Seed lists are curated and
    tiny, so the seed-flag join broadcasts.

    Scale shape per iteration: ranks join onto the (src, dst, od) link
    table — both sides shuffle-keyed on src (the link side is computed
    ONCE and cached, so iterations reuse its partitioning) — then one
    partial-aggregated groupBy(dst). That is O(|E|) per iteration with
    map-side combine on the contribution sum; nothing is collected and
    no per-node state lives on the driver. localCheckpoint per iteration
    keeps the plan flat across iterations.
    """
    d_num, d_den = damping
    base = (d_den - d_num) * scale // d_den
    # shuffle_partitions: callers ranking a DIMENSION-sized graph (host
    # authority over thousands of hosts, not the corpus) pass a small
    # width; the session default sizes shuffles for corpus-scale
    # operators, and n_iter x 3 exchanges of a tiny rank vector at that
    # width is ~10^3 near-empty tasks of pure scheduler latency (AQE
    # would coalesce them at runtime, but bench sessions run AQE off).
    # Restored in the finally below; the per-node values are partition-
    # count-invariant.
    sess = edges.sparkSession
    prev_parts = sess.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        sess.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return _pagerank_loop(edges, n_iter, scale, d_num, d_den, base, seeds)
    finally:
        if shuffle_partitions is not None:
            sess.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _pagerank_loop(edges, n_iter, scale, d_num, d_den, base, seeds):
    links = (
        edges.join(
            edges.groupBy("src").agg(F.count("*").alias("od")), "src")
        .select("src", "dst", "od")
        .persist()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.withColumn("_base", F.lit(base).cast("long"))
    else:
        nodes = nodes.join(
            F.broadcast(
                seeds.select("node").distinct()
                .withColumn("_s", F.lit(1))),
            "node", "left",
        ).select(
            "node",
            F.when(F.col("_s").isNotNull(), F.lit(base))
            .otherwise(F.lit(0)).cast("long").alias("_base"),
        )
    nodes = nodes.persist()
    init = scale if seeds is None else None
    ranks = nodes.select(
        "node",
        (F.lit(init).cast("long") if init is not None
         else F.expr(f"if(_base > 0, {scale}L, 0L)")).alias("pr"),
    )
    steps = []
    for i in range(n_iter):
        sums = (
            links.join(ranks, links["src"] == ranks["node"])
            .select(F.col("dst").alias("node"),
                    F.expr("pr div od").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (F.col("_base") + F.expr(
                    f"({d_num} * coalesce(s, 0L)) div {d_den}"))
                .cast("long").alias("pr"),
            )
            # LAZY checkpoint for the intermediate iterations: the logical
            # plan is truncated immediately (flat plans, same as before)
            # but no blocking job runs per iteration — the EAGER final
            # checkpoint materializes the whole chain as ONE Spark job,
            # with each intermediate cached as it computes. Profiled: the
            # per-iteration eager jobs were pure driver/scheduler latency
            # on a dimension-sized rank vector.
            .localCheckpoint(eager=(i == n_iter - 1))
        )
        steps.append(ranks)
    # the final checkpoint no longer reads the intermediate ones
    for step in steps[:-1]:
        release(step)
    links.unpersist()
    nodes.unpersist()
    return ranks


def hits(edges: DataFrame, n_iter: int = 4,
         scale: int = 1000,
         shuffle_partitions: int | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in integer fixed-point:
    per iteration, authority(v) = Σ over in-edges of hub(u) and
    hub(u) = Σ over out-edges of the NEW authority(v), each rescaled to
    [0, scale] by integer division with the vector max (the max is a
    one-row broadcast aggregate, never a driver collect; greatest(·,1)
    guards degenerate zero vectors). Returns (node, auth, hub).

    ``scale`` is deliberately small (10^3): raw sums are bounded by
    |V|·scale and the rescale multiplies by scale again, so BIGINTs are
    safe to |V| ~ 10^12. Three digits of score resolution is plenty for
    a ranking signal.

    Scale shape mirrors ``pagerank``: each half-step is one equi-join
    of a score vector onto the cached edge list (edges shuffled once
    for the whole run) + one partial-aggregated groupBy; n_iter is
    fixed so the unrolled SQL oracle rebuilds the exact integers.
    """
    sess = edges.sparkSession
    prev_parts = sess.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:  # dimension-sized graphs; see pagerank
        sess.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return _hits_loop(edges, n_iter, scale)
    finally:
        if shuffle_partitions is not None:
            sess.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _hits_loop(edges, n_iter, scale):
    links = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    auth = nodes.select("node", F.lit(scale).cast("long").alias("a"))
    hub = nodes.select("node", F.lit(scale).cast("long").alias("h"))

    def _half(vec, vec_col, join_src, out_key, eager=False):
        raw = (
            links.join(vec, links[join_src] == vec["node"])
            .groupBy(links[out_key].alias("node"))
            .agg(F.sum(vec_col).alias("_r"))
        )
        m = raw.agg(F.greatest(F.max("_r"), F.lit(1)).alias("_m"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "node",
                F.expr(f"(coalesce(_r, 0L) * {scale}) div _m")
                .cast("long").alias(vec_col),
            )
            # lazy intermediate checkpoints, one eager materialization at
            # the end — same rationale as pagerank: flat plans without a
            # blocking driver job per half-step
            .localCheckpoint(eager=eager)
        )

    halves = []
    for i in range(n_iter):
        last = i == n_iter - 1
        auth = _half(hub, "h", "src", "dst").withColumnRenamed("h", "a")
        hub = _half(auth, "a", "dst", "src",
                    eager=last).withColumnRenamed("a", "h")
        halves += [auth, hub]
        if last:
            # auth feeds the eagerly-materialized hub, but the output also
            # reads auth directly — pin it before links/nodes unpersist
            auth = auth.localCheckpoint(eager=True)
    # the output reads the final hub and its own copy of the final auth
    for half in halves[:-1]:
        release(half)
    out = (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("a", F.lit(0)).cast("long").alias("auth"),
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
        )
    )
    links.unpersist()
    nodes.unpersist()
    return out


def trustrank(edges: DataFrame, seeds: DataFrame, n_iter: int = 6,
              scale: int = 1_000_000,
              damping: tuple = (85, 100),
              shuffle_partitions: int | None = None) -> DataFrame:
    """TrustRank: PageRank with the reset vector restricted to a curated
    seed set — the standard link-spam demotion signal. See ``pagerank``.
    """
    return pagerank(edges, n_iter=n_iter, scale=scale, damping=damping,
                    seeds=seeds, shuffle_partitions=shuffle_partitions)
