"""A crawl round's plan build: the py4j calls it makes and the physical
plans it produces.

- a warm ``run_round`` (round 1 of a checkpointed crawl) makes at most
  300 py4j calls; built from DataFrame and Column calls it made 1,822;
- each of the round's eight outputs, and the frontier-skewed prelude at
  10k URLs, plans the same number of exchanges, joins of each strategy,
  windows, sorts, aggregates, Python evaluations and cached-frame scans
  as the DataFrame-built plans did, so writing the plans as SQL text
  changed no join strategy and evaluates no UDF twice.
"""

from collections import Counter
from contextlib import contextmanager

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from ideacrawler_spark.plans import round as round_mod

from tests.test_round_fixed_cost import _executed, _plan_nodes
from tests.test_seen_gate import _engine, _spec

MAX_ROUND_CALLS = 300

NODE_KINDS = ("Exchange", "ArrowEvalPython", "MapInPandas",
              "BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "Window", "WindowGroupLimit", "InMemoryTableScan", "Sort",
              "HashAggregate", "Generate", "Union", "Coalesce")

# the counts of the DataFrame-built plans (AQE off, 8 shuffle partitions,
# synth_web(seed=42, scale=1), round 1), less one cached scan in each plan
# that read the eligible links: with no follow regexp and no URL gating
# every resolved link is eligible, and the round reads the resolved links
ROUND_SHAPES = dict(
    counters=dict(ArrowEvalPython=3, BroadcastHashJoin=1, Coalesce=2,
                  Exchange=13, Generate=1, HashAggregate=10,
                  InMemoryTableScan=9, ShuffledHashJoin=1, Sort=12,
                  SortMergeJoin=1, Union=3, Window=7, WindowGroupLimit=4),
    shipped=dict(ArrowEvalPython=1, BroadcastHashJoin=1, Coalesce=1,
                 Exchange=6, InMemoryTableScan=3, Sort=8, SortMergeJoin=1,
                 Union=1, Window=7, WindowGroupLimit=4),
    order=dict(ArrowEvalPython=1, BroadcastHashJoin=1, Coalesce=1,
               Exchange=6, InMemoryTableScan=2, Sort=8, SortMergeJoin=1,
               Window=7, WindowGroupLimit=4),
    part_metrics=dict(ArrowEvalPython=1, BroadcastHashJoin=1, Coalesce=2,
                      Exchange=4, HashAggregate=2, InMemoryTableScan=1,
                      Sort=4, Window=6, WindowGroupLimit=4),
    outlinks=dict(ArrowEvalPython=3, BroadcastHashJoin=1, Coalesce=2,
                  Exchange=7, Generate=1, InMemoryTableScan=3, Sort=8,
                  SortMergeJoin=1, Window=7, WindowGroupLimit=4),
    bloom=dict(ArrowEvalPython=3, BroadcastHashJoin=1, Coalesce=1,
               Exchange=8, Generate=1, InMemoryTableScan=4,
               ShuffledHashJoin=1, Sort=12, SortMergeJoin=1, Union=1,
               Window=7, WindowGroupLimit=4),
    frontier_next=dict(ArrowEvalPython=3, BroadcastHashJoin=3, Coalesce=2,
                       Exchange=14, Generate=1, InMemoryTableScan=5,
                       ShuffledHashJoin=1, Sort=17, SortMergeJoin=1,
                       Union=3, Window=13, WindowGroupLimit=6),
    seen_delta=dict(ArrowEvalPython=3, BroadcastHashJoin=1, Coalesce=2,
                    Exchange=8, Generate=1, InMemoryTableScan=4,
                    ShuffledHashJoin=1, Sort=12, SortMergeJoin=1, Union=1,
                    Window=7, WindowGroupLimit=4),
)
PRELUDE_SHAPE = dict(ArrowEvalPython=1, BroadcastHashJoin=1, Exchange=8,
                     HashAggregate=2, InMemoryTableScan=5,
                     ShuffledHashJoin=1, Sort=10, Window=7,
                     WindowGroupLimit=4)


@contextmanager
def py4j_calls():
    """Count the commands Python sends to the JVM, in every thread. The
    release of a Python-side handle (py4j's ``m d`` command, sent when the
    garbage collector frees it) is not counted: its timing is not
    deterministic."""
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send


def _shape(df) -> dict:
    counts = Counter()
    for node in _plan_nodes(_executed(df)):
        cls = node.getClass().getSimpleName()
        for kind in NODE_KINDS:
            if cls.startswith(kind) or (kind == "Exchange"
                                        and cls.endswith("ExchangeExec")):
                counts[kind] += 1
    return dict(counts)


@pytest.fixture(scope="module")
def warm_engine(spark, web, web_dfs, tmp_path_factory):
    """A checkpointed crawl after its round 0: round 1 is warm."""
    spec = _spec(max_rounds=3, depth=3)
    eng = _engine(spark, web_dfs, web[3], spec,
                  str(tmp_path_factory.mktemp("plan_build") / "ck"))
    eng._init_state()
    eng.step()
    return eng


def _round(spark, eng):
    return round_mod.run_round(
        spark, eng.spec, eng.round, eng.frontier, eng.seen, eng.pages,
        eng.robots_host, fetch_seq_offset=eng.fetch_seq_offset,
        seq_offset=eng.seq_offset, shuffle_partitions=eng.nparts,
        bloom_dir=eng.bloom_dir, bloom_shards=eng.bloom_shards,
        global_budget=eng.spec.global_budget(),
        n_pending=eng._frontier_count, host_budget_max=eng._host_budget_max,
        seen_bytes=eng.seen_bytes)


@pytest.fixture
def aqe_off(spark):
    """Static physical plans: AQE re-plans query stages as they run."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def test_warm_round_plan_build_makes_few_jvm_calls(spark, warm_engine):
    with py4j_calls() as calls:
        res = _round(spark, warm_engine)
    try:
        assert calls[0] <= MAX_ROUND_CALLS
    finally:
        res.release()


def test_round_outputs_keep_their_physical_plans(spark, warm_engine, aqe_off):
    eng = warm_engine
    res = _round(spark, eng)
    try:
        got = dict(
            counters=_shape(res._frame("counters")),
            shipped=_shape(res.shipped), order=_shape(res.order),
            part_metrics=_shape(res.part_metrics),
            outlinks=_shape(res.outlinks),
            bloom=_shape(res.seen_new.selectExpr("xxhash64(key) AS key_hash")))
        cnt = res.counters()
        n_front = eng._frontier_count - cnt["admitted"] + cnt["n_enq"]
        got["frontier_next"] = _shape(res.frontier_next(cnt["n_enq"], n_front))
        got["seen_delta"] = _shape(res.seen_delta(cnt["n_new"]))
        assert got == ROUND_SHAPES
    finally:
        res.release()


def test_frontier_prelude_keeps_its_physical_plan(spark, aqe_off):
    from perfbench import inputs
    from perfbench.frontier import prelude

    fr = inputs.frontier(spark, 1, 10_000, 8).persist()
    seen = inputs.seen(spark, 1, 10_000, 8).persist()
    track: list = []
    try:
        fr.count()
        seen.count()
        ranked = prelude(fr, seen, 8, track)
        assert _shape(ranked) == PRELUDE_SHAPE
        # the operators' temp views leave the caller's persisted inputs
        # persisted
        cache = spark._jsparkSession.sharedState().cacheManager()
        assert cache.lookupCachedData(fr._jdf).isDefined()
        assert cache.lookupCachedData(seen._jdf).isDefined()
        assert ranked.count() == 6228
        assert ranked.select(F.countDistinct("fetch_seq")).first()[0] == 6228
    finally:
        for df in track + [fr, seen]:
            df.unpersist()
