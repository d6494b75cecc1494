"""Bloom-shard seen-set (D1-approx) + checkpoint/crash-resume (M4).

- unit: shard update + membership (no false negatives, low fp rate);
- e2e: a checkpointed crawl (Bloom prefilter ON) is bit-for-bit identical
  to the in-memory exact-only crawl;
- resume: kill after round k, resume from the commit manifests, final
  state identical to the uninterrupted run (SURVEY.md §5c).
"""

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.operators import bloom
from ideacrawler_spark.plans.crawl import CrawlEngine
from ideacrawler_spark.refsim import simulate


def test_bloom_shard_roundtrip(spark, tmp_path):
    d1 = str(tmp_path / "b1")
    keys = spark.range(0, 5000).select(F.xxhash64("id").alias("key_hash"))
    bloom.update_shards(keys, None, d1)
    # every inserted key must be maybe-seen (no false negatives)
    cand = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    flagged = bloom.maybe_seen(cand, d1)
    assert flagged.filter(~F.col("_maybe_seen")).count() == 0
    # unseen keys: low false-positive rate
    other = spark.range(100000, 120000).select(F.xxhash64("id").alias("url_hash"))
    fp = bloom.maybe_seen(other, d1).filter(F.col("_maybe_seen")).count()
    assert fp / 20000 < 0.01
    # incremental update keeps the superset invariant
    d2 = str(tmp_path / "b2")
    more = spark.range(50000, 51000).select(F.xxhash64("id").alias("key_hash"))
    bloom.update_shards(more, d1, d2)
    both = spark.range(0, 5000).union(spark.range(50000, 51000)).select(
        F.xxhash64("id").alias("url_hash"))
    assert bloom.maybe_seen(both, d2).filter(~F.col("_maybe_seen")).count() == 0


def test_bloom_shards_on_fs_uri(spark, tmp_path):
    """Shard IO goes through pyarrow.fs (operators/shardfs.py): a file://
    URI exercises the from_uri resolver end-to-end — the exact code path
    an hdfs:// or s3:// checkpoint would take on a real cluster, where
    executors do NOT share the driver's local disk."""
    d1 = "file://" + str(tmp_path / "u1")
    keys = spark.range(0, 3000).select(F.xxhash64("id").alias("key_hash"))
    bloom.update_shards(keys, None, d1)
    cand = spark.range(0, 3000).select(F.xxhash64("id").alias("url_hash"))
    assert bloom.maybe_seen(cand, d1).filter(~F.col("_maybe_seen")).count() == 0
    # copy-forward between rounds across the URI path too
    d2 = "file://" + str(tmp_path / "u2")
    more = spark.range(9000, 9500).select(F.xxhash64("id").alias("key_hash"))
    bloom.update_shards(more, d1, d2)
    both = spark.range(0, 3000).union(spark.range(9000, 9500)).select(
        F.xxhash64("id").alias("url_hash"))
    assert bloom.maybe_seen(both, d2).filter(~F.col("_maybe_seen")).count() == 0


def test_bloom_shard_capacity_at_design_load():
    """The M_BITS sizing: one shard at its share of the ~25M-key design
    load has no false negatives and a false-positive rate under 1%."""
    rng = np.random.default_rng(0)
    lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    keys = rng.integers(lo, hi, size=25_000_000 // bloom.N_SHARDS,
                        dtype=np.int64)
    fresh = rng.integers(lo, hi, size=200_000, dtype=np.int64)
    arr = np.zeros(bloom.M_BITS // 8, dtype=np.uint8)
    bloom._fold(arr, keys)
    assert bloom._contains(arr, keys).all()
    assert bloom._contains(arr, fresh).mean() < 0.01


def _spec(**kw):
    base = dict(job_id="ckpt", seed_url="http://hosta.example/p/0",
                min_delay_s=1, round_seconds=10, max_concurrent=5)
    base.update(kw)
    return JobSpec(**base)


def _final_state(out):
    order = [(r["fetch_seq"], r["url"], r["depth"], r["round"])
             for r in out["order"].orderBy("fetch_seq").collect()]
    seen = sorted(r["key"] for r in out["seen"].collect())
    shipped = sorted((r["fetch_seq"], r["url"], r["text"])
                     for r in out["shipped"].collect())
    return order, seen, shipped


def test_checkpointed_bloom_crawl_matches_refsim(spark, web, web_dfs, tmp_path):
    pages, robots, seeds, pushes = web
    pages_df, robots_df, _, _ = web_dfs
    spec = _spec()
    golden = simulate(spec, pages, robots, pushes)
    eng = CrawlEngine(spark, spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ck"), shuffle_partitions=8,
                      bloom_shards=8)
    out = eng.run()
    got = [(r["fetch_seq"], r["url"]) for r in out["order"].orderBy("fetch_seq").collect()]
    want = [(o["fetch_seq"], o["url"]) for o in golden.order]
    assert got == want
    assert {r["key"] for r in out["seen"].collect()} == set(golden.seen)


def test_crash_resume_equivalence(spark, web, web_dfs, tmp_path):
    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    # depth-limited: 3 full crawls in this test — keep rounds bounded
    full_spec = _spec(max_rounds=8, depth=3)
    # uninterrupted reference run (with its own checkpoint)
    ref = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ref"),
                      shuffle_partitions=8, bloom_shards=8).run()
    ref_state = _final_state(ref)
    assert ref["rounds"] > 3  # the cut at round 3 happens before the end
    # "crash" after 3 rounds: same job, truncated
    ck = str(tmp_path / "crash")
    cut_spec = dataclasses.replace(full_spec, max_rounds=3)
    CrawlEngine(spark, cut_spec, pages_df, robots_df, pushes,
                checkpoint_dir=ck, shuffle_partitions=8, bloom_shards=8).run()
    # resume with the full spec from the committed state
    eng2 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8, bloom_shards=8)
    out2 = eng2.run(resume=True)
    assert _final_state(out2) == ref_state


def test_resume_rejects_non_bloom_seen_filter(spark, web, web_dfs, tmp_path):
    """A checkpoint whose manifest names another seen filter holds no Bloom
    shards; read as Bloom it would call every seen URL unseen."""
    import json
    import os

    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    spec = _spec(max_rounds=1)
    ck = str(tmp_path / "ck")
    CrawlEngine(spark, spec, pages_df, robots_df, pushes, checkpoint_dir=ck,
                shuffle_partitions=8, bloom_shards=8).run()
    path = os.path.join(ck, "round=0", "_COMMIT.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["seen_filter"] = "cuckoo"
    with open(path, "w") as f:
        json.dump(manifest, f)
    eng = CrawlEngine(spark, dataclasses.replace(spec, max_rounds=4),
                      pages_df, robots_df, pushes, checkpoint_dir=ck,
                      shuffle_partitions=8, bloom_shards=8)
    with pytest.raises(ValueError, match="seen_filter"):
        eng.run(resume=True)
    assert eng.round == 0 and eng.frontier is None
    assert sorted(n for n in os.listdir(ck) if n.startswith("round=")) \
        == ["round=0"]


def test_cancel_resume_equivalence(spark, web, web_dfs, tmp_path):
    """Live cancel (CancelJob analogue, worker.go:271-287): cancelling a
    DRAINING job between rounds, then resuming it, must equal the
    uninterrupted crawl — committed rounds survive, nothing else does."""
    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    full_spec = _spec(max_rounds=8, depth=3)
    ref = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ref"),
                      shuffle_partitions=8, bloom_shards=8).run()
    ref_state = _final_state(ref)
    assert ref["rounds"] > 3

    # cancel a LIVE engine mid-drain: after round 3 commits, cancel()
    # fires (as the reference's CancelJob would from another goroutine)
    ck = str(tmp_path / "cancel")
    eng = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=ck, shuffle_partitions=8, bloom_shards=8)
    eng._init_state()
    orig_step = eng.step

    def step_then_maybe_cancel():
        n = orig_step()
        if eng.round >= 3:
            eng.cancel()
        return n

    eng.step = step_then_maybe_cancel
    eng.drain()
    assert eng.round == 3  # drain stopped at the cancel point
    assert eng.frontier.count() > 0  # genuinely mid-crawl

    eng2 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8, bloom_shards=8)
    out2 = eng2.run(resume=True)
    assert _final_state(out2) == ref_state


def test_seen_delta_layout_and_compaction(spark, web, web_dfs, tmp_path):
    """Seen checkpoints are per-round DELTAS (O(|new|) rows each) with a
    full compaction every k rounds — never a full rewrite per round
    (VERDICT r02 #2: O(N*rounds) checkpoint IO at the 10^10-URL target)."""
    import os

    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    ck = str(tmp_path / "ck")
    # expire_on_compact=False: this test asserts the PARTITION property of
    # the raw delta layout (every delta kept); expiry itself is covered by
    # test_expire_removes_superseded_state
    out = CrawlEngine(spark, _spec(max_rounds=8, depth=3), pages_df,
                      robots_df, pushes, checkpoint_dir=ck,
                      shuffle_partitions=8, bloom_shards=8,
                      seen_compact_every=3, expire_on_compact=False).run()
    total_seen = out["seen"].count()
    delta_rows = spark.read.parquet(f"{ck}/seen_init").count()
    for r in range(out["rounds"]):
        assert not os.path.isdir(f"{ck}/round={r}/seen")  # no full rewrites
        d = f"{ck}/round={r}/seen_delta"
        if os.path.isdir(d):
            delta_rows += spark.read.parquet(d).count()
    # the deltas partition the final seen-set exactly (no overlap, no loss)
    assert delta_rows == total_seen
    compactions = [r for r in range(out["rounds"])
                   if os.path.isdir(f"{ck}/round={r}/seen_full")]
    assert compactions  # at least one compaction landed
    full = spark.read.parquet(f"{ck}/round={compactions[-1]}/seen_full")
    assert full.count() <= total_seen


def test_resume_after_compaction_equivalence(spark, web, web_dfs, tmp_path):
    """Crash-resume that lands AFTER a compaction round reconstructs the
    seen-set from (latest seen_full + later deltas) and finishes identical
    to the uninterrupted crawl."""
    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    full_spec = _spec(max_rounds=8, depth=3)
    ref = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ref"),
                      shuffle_partitions=8, bloom_shards=8,
                      seen_compact_every=2).run()
    ref_state = _final_state(ref)
    assert ref["rounds"] > 3
    ck = str(tmp_path / "crash")
    cut_spec = dataclasses.replace(full_spec, max_rounds=3)
    CrawlEngine(spark, cut_spec, pages_df, robots_df, pushes,
                checkpoint_dir=ck, shuffle_partitions=8, bloom_shards=8,
                seen_compact_every=2).run()
    import os
    # the cut run committed a compaction before the crash point
    assert any(os.path.isdir(f"{ck}/round={r}/seen_full") for r in range(3))
    eng2 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8,
                       bloom_shards=8, seen_compact_every=2)
    out2 = eng2.run(resume=True)
    assert _final_state(out2) == ref_state


def test_expire_removes_superseded_state(spark, web, web_dfs, tmp_path):
    """catalog.expire (VERDICT r03 #6): after a committed compaction,
    superseded seen deltas, older seen_fulls/blooms and stale frontiers
    are deleted; shipped/order/outlinks/manifests survive; and a crash-
    resume from the expired checkpoint still matches the uninterrupted
    crawl."""
    import os

    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    full_spec = _spec(max_rounds=8, depth=3)
    ref = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ref"),
                      shuffle_partitions=8, bloom_shards=8,
                      seen_compact_every=2).run()
    ref_state = _final_state(ref)

    ck = str(tmp_path / "exp")
    cut_spec = dataclasses.replace(full_spec, max_rounds=4)
    out = CrawlEngine(spark, cut_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=ck, shuffle_partitions=8,
                      bloom_shards=8, seen_compact_every=2).run()
    assert out["rounds"] == 4  # compactions at rounds 1 and 3
    # superseded state is GONE: deltas <= 3, bloom/frontier/full < 3
    for r in range(3):
        assert not os.path.isdir(f"{ck}/round={r}/bloom")
        assert not os.path.isdir(f"{ck}/round={r}/frontier_next")
        assert not os.path.isdir(f"{ck}/round={r}/seen_full")
    for r in range(4):
        assert not os.path.isdir(f"{ck}/round={r}/seen_delta")
    # latest committed round keeps everything resume needs; results and
    # manifests for every round survive
    assert os.path.isdir(f"{ck}/round=3/seen_full")
    assert os.path.isdir(f"{ck}/round=3/bloom")
    assert os.path.isdir(f"{ck}/round=3/frontier_next")
    for r in range(4):
        assert os.path.exists(f"{ck}/round={r}/_COMMIT.json")
        assert os.path.isdir(f"{ck}/round={r}/shipped")
    # resume THROUGH the expired checkpoint equals the uninterrupted run
    out2 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8,
                       bloom_shards=8, seen_compact_every=2).run(resume=True)
    assert _final_state(out2) == ref_state


def test_rollback_then_resume_equivalence(spark, web, web_dfs, tmp_path):
    """catalog.rollback (Iceberg rollback-to-snapshot analogue): roll a
    finished crawl's checkpoint back to round 3 and resume — the re-run
    rounds must reproduce the uninterrupted run bit-for-bit, and the
    snapshot log must reflect the truncation."""
    from ideacrawler_spark.plans.catalog import ParquetManifestCatalog

    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    full_spec = _spec(max_rounds=8, depth=3)
    ref = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                      checkpoint_dir=str(tmp_path / "ref"),
                      shuffle_partitions=8, bloom_shards=8).run()
    ref_state = _final_state(ref)
    assert ref["rounds"] >= 3

    ck = str(tmp_path / "rb")
    out1 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8,
                       bloom_shards=8).run()
    assert _final_state(out1) == ref_state  # sanity: same job, same result
    cat = ParquetManifestCatalog(spark, ck)
    last = cat.last_committed()
    assert last == ref["rounds"] - 1
    assert [s["round"] for s in cat.snapshots()] == list(range(last + 1))

    removed = cat.rollback(1)
    assert removed and cat.last_committed() == 1
    assert [s["round"] for s in cat.snapshots()] == [0, 1]

    eng2 = CrawlEngine(spark, full_spec, pages_df, robots_df, pushes,
                       checkpoint_dir=ck, shuffle_partitions=8,
                       bloom_shards=8)
    out2 = eng2.run(resume=True)
    assert _final_state(out2) == ref_state


def test_rollback_refuses_past_expire_horizon(spark, web, web_dfs, tmp_path):
    """Rolling back to a round whose resume state was expired must
    refuse loudly (ValueError), never resume with an incomplete seen
    set; rollback to the expire horizon itself still works."""
    import pytest as _pytest

    from ideacrawler_spark.plans.catalog import ParquetManifestCatalog

    pages_df, robots_df, _, _ = web_dfs
    _, _, _, pushes = web
    spec = _spec(max_rounds=4, depth=3)
    CrawlEngine(spark, spec, pages_df, robots_df, pushes,
                checkpoint_dir=str(tmp_path / "h"), shuffle_partitions=8,
                bloom_shards=8, seen_compact_every=2).run()
    cat = ParquetManifestCatalog(spark, str(tmp_path / "h"))
    # the engine's own expire already removed pre-compaction state
    with _pytest.raises(ValueError):
        cat.rollback(1)   # frontier_next for round 1 is gone
    # the latest committed round is always a valid target (no-op delete)
    assert cat.rollback(cat.last_committed()) == []
