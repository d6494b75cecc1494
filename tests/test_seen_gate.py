"""The seen-set join gate and the Bloom fold paths against their general
paths.

- below Spark's hash-build bound a round takes the exact hash anti-join
  (no Bloom probe) and folds its new keys on the driver; above it a
  checkpointed crawl probes the Bloom shards and an in-memory crawl takes
  the sort-merge join — each equals ``refsim``, and the in-memory crawl
  keeps pinned only the blocks its state and results read;
- the driver fold writes the same shard files as the applyInPandas fold;
- a crash after the fold but before ``_COMMIT.json`` resumes bit-for-bit,
  the resume starts no Spark job before its first round, and the
  manifest's seen-set size equals the rebuilt seen-set's;
- each concurrent action of a round runs under its own job group;
- extract and resolve run on one task in a small round.
"""

import dataclasses
import json
import os

import pytest
from pyspark.sql import GroupedData
from pyspark.sql import functions as F

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.operators import bloom
from ideacrawler_spark.operators.dedup import seen_row_bytes, seen_row_bytes_col
from ideacrawler_spark.plans import round as round_mod
from ideacrawler_spark.plans.catalog import ParquetManifestCatalog
from ideacrawler_spark.plans.crawl import CrawlEngine
from ideacrawler_spark.refsim import simulate

from tests.test_round_fixed_cost import (
    _executed, _persisted, _persistent_rdds, _plan_nodes, _scanned_rdds)

OUTPUTS = ("counters", "shipped", "order", "part_metrics", "outlinks",
           "frontier_next", "seen_delta", "bloom")


def _spec(**kw):
    base = dict(job_id="gate", seed_url="http://hosta.example/p/0",
                min_delay_s=1, round_seconds=10, max_concurrent=5)
    base.update(kw)
    return JobSpec(**base)


def _engine(spark, web_dfs, pushes, spec, ckpt=None, **kw):
    pages_df, robots_df, _, _ = web_dfs
    return CrawlEngine(spark, spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ckpt, shuffle_partitions=8,
                       bloom_shards=8, **kw)


def _assert_matches_refsim(web, spec, out, metrics):
    """Order, seen-set, shipped text and per-round lineage against the
    reference simulator; ``metrics`` are the rounds' lineage rows, from
    every engine that ran part of the crawl."""
    pages, robots, _, pushes = web
    golden = simulate(spec, pages, robots, pushes)
    order = [(r["fetch_seq"], r["url"], r["host"], r["depth"], r["round"])
             for r in out["order"].orderBy("fetch_seq").collect()]
    assert order == [(o["fetch_seq"], o["url"], o["host"], o["depth"],
                      o["round"]) for o in golden.order]
    assert {r["key"] for r in out["seen"].collect()} == set(golden.seen)
    seqs = {(o["url"], o["round"]): o["fetch_seq"] for o in golden.order}
    assert sorted((r["fetch_seq"], r["url"], r["status"], r["text"])
                  for r in out["shipped"].collect()) == sorted(
        (seqs[(s["url"], s["round"])], s["url"], s["status"], s["text"])
        for s in golden.shipped)
    lineage = ("admitted", "fetched", "deduped", "robots_denied", "errors")
    got = {m["round"]: tuple(m[k] for k in lineage) for m in metrics}
    want = {m["round"]: tuple(m[k] for k in lineage) for m in golden.metrics}
    assert {r: got.get(r) for r in want} == want


@pytest.fixture
def no_hash_build(spark):
    """Spark's joins by size off: every seen-set fails the hash-build rule."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def _count_calls(monkeypatch, owner, name):
    calls = []
    orig = getattr(owner, name)

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, name, spy)
    return calls


# ---- above the bound: the probe and the sort-merge join ----------------------

def test_above_bound_checkpointed_crawl_probes_and_resumes(
        spark, web, web_dfs, tmp_path, monkeypatch, no_hash_build):
    probes = _count_calls(monkeypatch, bloom, "maybe_seen")
    pushes = web[3]
    spec = _spec(max_rounds=3, depth=3)
    ck = str(tmp_path / "ck")
    first = _engine(spark, web_dfs, pushes, dataclasses.replace(spec, max_rounds=1),
                    ck)
    first.run()
    assert len(probes) == 1  # every round took the Bloom-prefiltered join
    eng = _engine(spark, web_dfs, pushes, spec, ck)
    out = eng.run(resume=True)
    assert eng.seen_bytes is not None
    assert len(probes) == 1 + len(eng.metrics) == 3
    _assert_matches_refsim(web, spec, out, first.metrics + eng.metrics)


def test_above_bound_in_memory_crawl_sort_merges(
        spark, web, web_dfs, monkeypatch, no_hash_build):
    joins = _count_calls(monkeypatch, round_mod, "anti_join_seen")
    spec = _spec(max_rounds=3)
    eng = _engine(spark, web_dfs, web[3], spec, seen_compact_every=2)
    before = _persistent_rdds(spark)
    out = eng.run()
    # the blocks left pinned are exactly the ones the engine still reads:
    # superseded frontiers, compacted seen deltas and the rounds' own
    # persists are released
    assert _persistent_rdds(spark) - before == _scanned_rdds(
        eng._shipped + eng._order + eng._outlinks + eng._seen_parts
        + [eng.frontier])
    assert joins and all(not j.get("partitioned") for j in joins)
    _assert_matches_refsim(web, spec, out, eng.metrics)


def test_seen_row_bytes_is_the_unsafe_row_size(spark):
    # null-bitset word + offset/length word + UTF-8 bytes padded to 8
    keys = ["", "a", "abcdefgh", "abcdefghi", "\u00e9" * 5]  # 10 UTF-8 bytes
    want = [16, 24, 24, 32, 32]
    assert [seen_row_bytes(k) for k in keys] == want
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    assert [r[0] for r in df.select(seen_row_bytes_col(F.col("key"))).collect()] \
        == want


# ---- the two fold paths --------------------------------------------------------

def test_driver_fold_equals_apply_in_pandas_fold(spark, tmp_path):
    n = 8
    # negative and positive hashes, shards left untouched by the second fold
    first = spark.range(0, 400).select(F.xxhash64("id").alias("key_hash"))
    second = spark.createDataFrame(
        [(int(h),) for h in (-(2 ** 63), -17, -1, 3, 2 ** 63 - 1, 123456789)],
        "key_hash long")
    prev = str(tmp_path / "prev")
    bloom.update_shards(first, None, prev, n_shards=n)
    touched = {int(h) % n for (h,) in second.collect()}
    assert len(touched) < n
    got, want = str(tmp_path / "driver"), str(tmp_path / "pandas")
    bloom.update_shards(second, prev, want, n_shards=n)
    bloom.update_shards(second, prev, got, n_shards=n, n_keys=6)
    assert sorted(os.listdir(got)) == sorted(os.listdir(want)) \
        == [f"shard={s:04d}.npy" for s in range(n)]
    for name in os.listdir(want):
        with open(os.path.join(got, name), "rb") as a, \
                open(os.path.join(want, name), "rb") as b:
            assert a.read() == b.read(), name
    # a fold from no previous shards, and a fold of no keys
    bloom.update_shards(second, None, str(tmp_path / "d0"), n_shards=n, n_keys=6)
    bloom.update_shards(second, None, str(tmp_path / "p0"), n_shards=n)
    assert sorted(os.listdir(tmp_path / "d0")) \
        == sorted(os.listdir(tmp_path / "p0")) \
        == [f"shard={s:04d}.npy" for s in sorted(touched)]
    for name in os.listdir(tmp_path / "p0"):
        assert (tmp_path / "d0" / name).read_bytes() \
            == (tmp_path / "p0" / name).read_bytes()
    bloom.update_shards(second.limit(0), prev, str(tmp_path / "e"),
                        n_shards=n, n_keys=0)
    for name in os.listdir(prev):
        assert (tmp_path / "e" / name).read_bytes() \
            == (tmp_path / "prev" / name).read_bytes()
    # every key of both folds is maybe-seen in the driver-folded shards
    both = first.union(second).withColumnRenamed("key_hash", "url_hash")
    assert bloom.maybe_seen(both, got, n_shards=n) \
        .filter(~F.col("_maybe_seen")).count() == 0


# ---- below the bound: one durable round ---------------------------------------

def test_round_below_bound_runs_no_python_seen_work(
        spark, web, web_dfs, tmp_path, monkeypatch):
    def refuse(*args, **kwargs):
        raise AssertionError("Python seen-set work below the hash-build bound")

    monkeypatch.setattr(bloom, "maybe_seen", refuse)
    monkeypatch.setattr(GroupedData, "applyInPandas", refuse)
    spec = _spec()
    eng = _engine(spark, web_dfs, web[3], spec, str(tmp_path / "ck"))
    eng._init_state()
    assert (eng.seen_rows, eng.seen_bytes) == (1, 16 + 24)  # 24-byte seed
    tracker = spark.sparkContext.statusTracker()
    before = {o: set(tracker.getJobIdsForGroup(f"r0:{o}")) for o in OUTPUTS}
    eng.step()
    new = [r["key"] for r in
           spark.read.parquet(f"{tmp_path}/ck/round=0/seen_delta").collect()]
    assert eng.seen_rows == 1 + len(new)
    assert eng.seen_bytes == 40 + sum(seen_row_bytes(k) for k in new)
    # each concurrent action ran at least one job under its own group
    for output in OUTPUTS:
        assert set(tracker.getJobIdsForGroup(f"r0:{output}")) - before[output], \
            output
    # the next round's plan, still below the bound: no probe node under
    # the new keys
    res = round_mod.run_round(
        spark, spec, 1, eng.frontier, eng.seen, web_dfs[0], eng.robots_host,
        fetch_seq_offset=eng.fetch_seq_offset, seq_offset=eng.seq_offset,
        shuffle_partitions=8, bloom_dir=eng.bloom_dir, bloom_shards=8,
        n_pending=eng._frontier_count, host_budget_max=eng._host_budget_max,
        seen_bytes=eng.seen_bytes)
    try:
        names = {n.nodeName() for n in _plan_nodes(_executed(res.seen_new))}
        assert not names & {"MapInPandas", "FlatMapGroupsInPandas"}
    finally:
        res.release()


def test_small_round_extracts_and_resolves_on_one_task(spark, web_dfs):
    """A round's fetch join keeps global_rank's single partition when the
    pages are broadcast-small (here: cached and counted), so a small
    round runs extract and resolve on one Python task."""
    pages_df, robots_df, _, _ = web_dfs
    pages = pages_df.persist()
    pages.count()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spec = _spec()
    eng = CrawlEngine(spark, spec, pages, robots_df, shuffle_partitions=8)
    eng._init_state()
    eng.step()  # round 1 has several pending pages
    assert eng._frontier_count > 1
    res = round_mod.run_round(
        spark, spec, 1, eng.frontier, eng.seen, pages, eng.robots_host,
        fetch_seq_offset=eng.fetch_seq_offset, seq_offset=eng.seq_offset,
        shuffle_partitions=8, n_pending=eng._frontier_count,
        host_budget_max=eng._host_budget_max)
    try:
        # the UDFs between the resolved links and the cached fetch join
        # run in the stage that computes the resolved links' partitions
        resolved = _persisted(res, "resolved")
        udfs, nodes = [], [_executed(resolved).relation().cacheBuilder()
                           .cachedPlan()]
        while nodes:
            node = nodes.pop()
            cls = node.getClass().getSimpleName()
            assert "Exchange" not in cls, cls
            if cls == "InMemoryTableScanExec":
                continue
            if cls == "ArrowEvalPythonExec":
                it = node.udfs().iterator()
                while it.hasNext():
                    udfs.append(it.next().name())
            it = node.children().iterator()
            while it.hasNext():
                nodes.append(it.next())
        assert sorted(udfs) == ["_extract", "_resolve"]
        assert resolved.rdd.getNumPartitions() == 1
        assert _persisted(res, "fetched").rdd.getNumPartitions() == 1
    finally:
        res.release()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        pages.unpersist()


# ---- crash between the fold and the commit -------------------------------------

def test_crash_after_fold_before_commit_resumes_bit_for_bit(
        spark, web, web_dfs, tmp_path, monkeypatch):
    pushes = web[3]
    spec = _spec(max_rounds=4, depth=3)
    ck = str(tmp_path / "ck")
    crash_round = 2
    commit = ParquetManifestCatalog.commit

    def crash_at(self, rnd, manifest):
        if rnd == crash_round:
            raise RuntimeError("crash before _COMMIT.json")
        return commit(self, rnd, manifest)

    monkeypatch.setattr(ParquetManifestCatalog, "commit", crash_at)
    first = _engine(spark, web_dfs, pushes, spec, ck, seen_compact_every=2)
    with pytest.raises(RuntimeError, match="before _COMMIT"):
        first.run()
    monkeypatch.setattr(ParquetManifestCatalog, "commit", commit)
    # the fold and the seen-set compaction of round 1 landed; round 2
    # folded its shards but never committed
    assert os.path.isdir(f"{ck}/round={crash_round}/bloom")
    assert not os.path.exists(f"{ck}/round={crash_round}/_COMMIT.json")
    assert os.path.isdir(f"{ck}/round=1/seen_full")

    eng = _engine(spark, web_dfs, pushes, spec, ck, seen_compact_every=2)
    sc = spark.sparkContext
    sc.setJobGroup("test-resume", "resume")
    try:
        assert eng.resume()
        assert not sc.statusTracker().getJobIdsForGroup("test-resume")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert eng.round == crash_round
    eng.drain()
    out = eng.results()
    committed = first.metrics[:crash_round] + eng.metrics
    _assert_matches_refsim(web, spec, out, committed)

    # the seen-set size recorded at the last commit is the rebuilt one's
    last = ParquetManifestCatalog(spark, ck).last_committed()
    with open(f"{ck}/round={last}/_COMMIT.json") as f:
        manifest = json.load(f)
    rebuilt = _engine(spark, web_dfs, pushes, spec, ck)
    assert rebuilt.resume()
    keys = [r["key"] for r in rebuilt.seen.collect()]
    assert len(set(keys)) == len(keys)
    assert (manifest["seen_rows"], manifest["seen_bytes"]) \
        == (len(keys), sum(seen_row_bytes(k) for k in keys))
