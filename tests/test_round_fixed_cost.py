"""The crawl round's fixed-cost paths against their general paths.

- seed and push rows built through Arrow equal ``createDataFrame(list)``,
  and the robots dim chosen on the driver equals the relational
  group selection it replaced, on the fixture and on fuzzed rows;
- the Bloom-prefiltered anti-join equals the exact anti-join, and
  a round probes each candidate once;
- the robots UDF runs on one task only when a round's pending rows fit
  in one Arrow batch;
- each step of a checkpointed crawl leaves no persisted frame or temp
  view behind, and the catalog returns the schema a plain parquet read
  would infer.
"""

import random

from pyspark import SparkContext
from pyspark.sql import Window
from pyspark.sql import functions as F

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.operators import bloom
from ideacrawler_spark.operators.dedup import (
    anti_join_seen, prefiltered_anti_join)
from ideacrawler_spark.plans.catalog import ParquetManifestCatalog
from ideacrawler_spark.plans.crawl import (
    CrawlEngine, _frontier_schema, robots_groups)
from ideacrawler_spark.plans.round import run_round
from ideacrawler_spark.refsim import simulate


def _plan_nodes(plan):
    """Every physical node under ``plan``, including the plans inside
    adaptive query stages and persisted frames, each node once."""
    jvm = SparkContext._jvm
    seen, todo = set(), [plan]
    while todo:
        node = todo.pop()
        ident = jvm.System.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        yield node
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(node.relation().cacheBuilder().cachedPlan())


def _executed(df):
    return df._jdf.queryExecution().executedPlan()


def _persisted(res, name):
    """The round's persisted frame ``name``, read through its temp view."""
    view = next(v for v in res._views._names if v.startswith(f"_{name}_"))
    return res._views.sql(f"SELECT * FROM {view}")


def _persistent_rdds(spark) -> set:
    """Ids of the persisted RDDs. Other tests' frames may be released
    meanwhile (the context cleaner unpersists unreachable RDDs), so
    callers compare what was ADDED, not the count."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _scanned_rdds(frames) -> set:
    """Ids of the RDDs the frames scan: a ``localCheckpoint``'s blocks, or
    the rows of a ``createDataFrame(list)``."""
    ids = set()
    for df in frames:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).nodeName() == "LogicalRDD":
                ids.add(int(leaves.apply(i).rdd().id()))
    return ids


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


# ---- (a) Arrow-built frontier rows ------------------------------------------

def test_arrow_frontier_rows_equal_list_rows(spark, web_dfs):
    pages_df, robots_df, _, _ = web_dfs
    pushes = [
        dict(round=0, seq=0, url="http://hosta.example/p/1", meta="m1",
             method="GET", no_callback=False),
        dict(round=0, seq=1, url="http://HostB.example:80/p/2", meta="",
             method="HEAD", no_callback=True),
        dict(round=0, seq=2, url="http://hostc.example/p/3"),
        dict(round=0, seq=3, url="http://hosta.example/p/4", meta=None,
             method=None, no_callback=None),
        dict(round=0, seq=4, url="http://hosta.example/p/5", meta="m5",
             method="HEAD", no_callback=False),
    ]
    eng = CrawlEngine(spark, JobSpec(job_id="arrow",
                                     seed_url="http://hosta.example/p/0"),
                      pages_df, robots_df, pushes, shuffle_partitions=8)
    eng._init_state()
    eng._inject_pushes(0)

    def row(seq, url, url_norm, host, meta="", method="GET", pushed=True,
            no_callback=False):
        return dict(depth=0, seq=seq, url=url, url_norm=url_norm, host=host,
                    anchor="", meta=meta, method=method, pushed=pushed,
                    no_callback=no_callback)

    want = spark.createDataFrame([
        row(0, "http://hosta.example/p/0", "http://hosta.example/p/0",
            "hosta.example", pushed=False),
        row(1, "http://hosta.example/p/1", "http://hosta.example/p/1",
            "hosta.example", meta="m1"),
        row(2, "http://HostB.example:80/p/2", "http://hostb.example/p/2",
            "hostb.example", method="HEAD", no_callback=True),
        row(3, "http://hostc.example/p/3", "http://hostc.example/p/3",
            "hostc.example"),
        row(4, "http://hosta.example/p/4", "http://hosta.example/p/4",
            "hosta.example"),
        row(5, "http://hosta.example/p/5", "http://hosta.example/p/5",
            "hosta.example", meta="m5", method="HEAD"),
    ], _frontier_schema())
    assert eng.frontier.schema == want.schema
    assert eng.frontier.orderBy("seq").collect() == want.orderBy("seq").collect()
    assert eng.seen.schema == spark.createDataFrame(
        [("http://hosta.example/p/0",)], "key string").schema
    assert [r["key"] for r in eng.seen.collect()] == ["http://hosta.example/p/0"]
    # the robots dim is built once, rows and schema as the relational
    # selection's
    dim = _robots_dim_reference(robots_df, eng.spec.useragent)
    assert eng.robots_host.schema == dim.schema
    assert sorted(eng.robots_host.collect()) == sorted(dim.collect())
    # read by the JVM alone: no pickled Python RDD under any of the frames
    for df in (eng.frontier, eng.seen, eng.robots_host):
        names = {n.nodeName() for n in _plan_nodes(_executed(df))}
        assert "LocalTableScan" in names
        assert not any("ExistingRDD" in n for n in names)


def _robots_dim_reference(robots, useragent):
    """The relational FindGroup selection the engine ran before it chose
    the group on the driver (robotstxt.go:160-181): one row per host."""
    ua = (useragent or "Fetchbot").lower()
    if "rule_seq" not in robots.columns:
        robots = robots.withColumn("rule_seq", F.lit(0))
    g = robots.groupBy("host", "user_agent").agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("rule_seq"), F.col("rule_path"), F.col("allow"),
            F.col("fetch_status")))).alias("rules"),
        F.max("crawl_delay").alias("crawl_delay"),
    )
    is_star = F.lower(F.col("user_agent")) == "*"
    rank = (F.when(is_star, F.lit(1))
            .when(F.lit(ua).startswith(F.lower(F.col("user_agent"))),
                  F.length("user_agent"))
            .otherwise(F.lit(-1)))
    g = g.withColumn("_ua_rank", rank).filter(F.col("_ua_rank") >= 1)
    w = F.row_number().over(Window.partitionBy("host").orderBy(
        F.desc("_ua_rank"), F.desc(is_star.cast("int")), F.col("user_agent")))
    return (g.withColumn("_rn", w).filter(F.col("_rn") == 1)
            .select("host", "crawl_delay", "rules"))


def _fuzzed_robots(rng, n_hosts):
    agents = ["*", "*", "Fetchbot", "fetchbot", "FETCH", "fetchbot/2",
              "Fetchbo", "F", "f", "", None, "Googlebot", "fetchBOT", "Fe"]
    paths = ["/", "/a", "/a/", "/b*", "/$", "", None, "/%7Ex"]
    rows = []
    for h in range(n_hosts):
        host = f"h{h}.example" if h else None
        for agent in rng.sample(agents, rng.randint(1, 5)):
            for _ in range(rng.randint(1, 4)):
                rows.append((
                    host, agent, rng.choice(paths), rng.random() < 0.5,
                    rng.choice([None, 0.0, 0.5, 2.0, 7.0]),
                    rng.choice([None, 200, 404, 500]),
                    rng.choice([0, 1, 1, 2, 3])))  # duplicate rule_seqs
    return rows


def test_robots_group_on_driver_equals_relational(spark):
    schema = ("host string, user_agent string, rule_path string, "
              "allow boolean, crawl_delay double, fetch_status int, "
              "rule_seq int")
    rng = random.Random(7)
    cases = [(_fuzzed_robots(rng, 12), ua)
             for ua in ("Fetchbot", "fetchbot/2.1", "FE", "f", "*", None)]
    cases.append(([("h.example", "*", "/x", False, 1.0, None, 0),
                   ("h.example", "F", "/y", True, 2.0, None, 0)], "Fetchbot"))
    for rows, ua in cases:
        robots = spark.createDataFrame(rows, schema)
        for frame in (robots, robots.drop("rule_seq")):
            want = _robots_dim_reference(frame, ua)
            got, got_schema = robots_groups(frame, ua)
            assert got_schema == want.schema, ua
            # reprs: a null host does not sort among strings
            assert sorted(map(repr, got)) == sorted(
                repr(r.asDict(recursive=True)) for r in want.collect()), ua


# ---- (b) prefiltered anti-joins ----------------------------------------------

def _probe_nodes(df):
    return [n for n in _plan_nodes(_executed(df))
            if n.nodeName() == "MapInPandas"]


def test_prefiltered_anti_join_matches_exact(spark, tmp_path):
    seen_keys = [f"http://h{i % 5}.example/seen/{i}" for i in range(40)]
    false_pos = [f"http://h{i % 5}.example/fp/{i}" for i in range(20)]
    fresh = [f"http://h{i % 5}.example/new/{i}" for i in range(60)]
    seen = spark.createDataFrame([(k,) for k in seen_keys], "key string")
    cand = spark.createDataFrame(
        [(k, i) for i, k in enumerate(seen_keys[::2] + false_pos + fresh)],
        "url_norm string, link_pos int")
    # the filter holds the false-positive keys too, so those take the exact
    # path and must survive it
    in_filter = spark.createDataFrame(
        [(k,) for k in seen_keys + false_pos], "key string") \
        .select(F.xxhash64("key").alias("key_hash"))
    want = sorted(anti_join_seen(cand, seen).collect())
    assert len(want) == len(false_pos) + len(fresh)
    d = str(tmp_path / "bloom")
    bloom.update_shards(in_filter, None, d, n_shards=4)
    flagged = bloom.maybe_seen(
        cand.withColumn("url_hash", F.xxhash64("url_norm")), d,
        n_shards=4).persist()
    try:
        assert flagged.filter("_maybe_seen").count() \
            >= len(seen_keys) // 2 + len(false_pos)
        got = prefiltered_anti_join(flagged, seen)
        assert sorted(got.collect()) == want
        assert got.columns == cand.columns
    finally:
        flagged.unpersist()


def test_round_probes_seen_filter_once(spark, web_dfs, tmp_path):
    pages_df, robots_df, _, _ = web_dfs
    spec = JobSpec(job_id="probe", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10)
    eng = CrawlEngine(spark, spec, pages_df, robots_df, shuffle_partitions=8)
    eng._init_state()
    d = str(tmp_path / "bloom")
    bloom.update_shards(eng.seen.select(F.xxhash64("key").alias("key_hash")),
                        None, d, n_shards=4)
    res = run_round(spark, spec, 0, eng.frontier, eng.seen, pages_df,
                    eng.robots_host, fetch_seq_offset=0, seq_offset=1,
                    shuffle_partitions=8, bloom_dir=d, bloom_shards=4,
                    n_pending=1, host_budget_max=eng._host_budget_max)
    try:
        assert res.seen_new.count() > 0
        # both branches of the anti-join read one probe evaluation
        probes = _probe_nodes(res.seen_new)
        assert len(probes) == 1
        assert probes[0].metrics().apply("pythonNumRowsReceived").value() > 0
    finally:
        res.release()


# ---- (c) robots UDF partitioning -----------------------------------------------

def _robots_udf_input_partitions(res) -> int:
    allowed = _persisted(res, "allowed")
    nodes = [n for n in _plan_nodes(_executed(allowed))
             if n.getClass().getSimpleName() == "ArrowEvalPythonExec"]
    assert len(nodes) == 1
    return nodes[0].child().outputPartitioning().numPartitions()


def test_robots_udf_runs_on_one_task_only_for_one_batch(spark, web_dfs):
    pages_df, robots_df, _, _ = web_dfs
    spec = JobSpec(job_id="coalesce", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10)
    eng = CrawlEngine(spark, spec, pages_df, robots_df, shuffle_partitions=8)
    eng._init_state()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = int(spark.conf.get(conf))
    n_in = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def partitions(n_pending, budget):
        res = run_round(spark, spec, 0, eng.frontier, eng.seen, pages_df,
                        eng.robots_host, fetch_seq_offset=0, seq_offset=1,
                        shuffle_partitions=8, global_budget=budget,
                        n_pending=n_pending, host_budget_max=10)
        try:
            return _robots_udf_input_partitions(res)
        finally:
            res.release()

    # a small global budget does not shrink the tasks: they also run the
    # admission window over every pending row
    for n_pending, budget, want in ((5, 5, 1), (batch, batch, 1),
                                    (batch + 1, 5, n_in)):
        assert partitions(n_pending, budget) == want, (n_pending, budget)
    # a batch size of zero or less is no limit, not a one-row batch
    spark.conf.set(conf, "-1")
    try:
        assert partitions(5, 5) == n_in
    finally:
        spark.conf.set(conf, str(batch))


# ---- persist lifecycle + catalog schemas (one small crawl) ---------------------

def test_checkpointed_crawl_releases_persists_and_keeps_schemas(
        spark, web, web_dfs, tmp_path, monkeypatch):
    pages, robots, _, pushes = web
    pages_df, robots_df, _, _ = web_dfs
    spec = JobSpec(job_id="lifecycle", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10, max_concurrent=5,
                   max_rounds=2)
    written = []
    write = ParquetManifestCatalog._write

    def recording_write(self, df, path):
        out = write(self, df, path)
        written.append((path, out.schema, spark.read.parquet(path).schema))
        return out

    monkeypatch.setattr(ParquetManifestCatalog, "_write", recording_write)
    before, views = _persistent_rdds(spark), _temp_views(spark)
    eng = CrawlEngine(spark, spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ck"), shuffle_partitions=8,
                      bloom_shards=8, seen_compact_every=2)
    eng._init_state()
    while eng.round < spec.max_rounds:
        eng.step()
        assert not _persistent_rdds(spark) - before
        assert _temp_views(spark) == views
    out = eng.results()

    golden = simulate(spec, pages, robots, pushes)
    got = [(r["fetch_seq"], r["url"], r["round"])
           for r in out["order"].orderBy("fetch_seq").collect()]
    assert got == [(o["fetch_seq"], o["url"], o["round"]) for o in golden.order]
    assert {r["key"] for r in out["seen"].collect()} == set(golden.seen)

    tables = {path.rstrip("/").rsplit("/", 1)[1] for path, _, _ in written}
    assert tables == {"seen_init", "shipped", "order", "part_metrics",
                      "outlinks", "frontier_next", "seen_delta", "seen_full"}
    for path, returned, inferred in written:
        assert returned == inferred, path
