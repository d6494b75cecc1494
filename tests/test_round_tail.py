"""The round's tail against its general paths: ``frontier_next`` and
``seen_delta`` are sized by the counters row, and a round's actions fail
together.

- a checkpointed crawl whose ranks all take the scalable path writes the
  same ``frontier_next`` tables as the default crawl, equals ``refsim``,
  and releases every persist the round's tail makes;
- a round that finds nothing new reads counters of 0 (SQL sums over zero
  rows are null) and the crawl still equals ``refsim``;
- a failing round action fails the round within a bounded time, even with
  another action's job stalled, commits nothing, and the crawl resumes
  bit-for-bit;
- a round re-run after a crash between its Bloom fold and its commit
  writes the same shard files as an uninterrupted crawl;
- each small table of a small round is written as one parquet file.
"""

import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ideacrawler_spark.operators import rank
from ideacrawler_spark.plans import round as round_mod
from ideacrawler_spark.plans.catalog import ParquetManifestCatalog
from ideacrawler_spark.plans.round import RoundResult

from tests.test_round_fixed_cost import _persistent_rdds
from tests.test_seen_gate import _assert_matches_refsim, _engine, _spec

SPEC = _spec(max_rounds=3, depth=3)


def _frontiers(spark, ck: str, rounds: int) -> list:
    return [sorted(tuple(r) for r in spark.read.parquet(
        f"{ck}/round={rnd}/frontier_next").collect()) for rnd in range(rounds)]


def _bloom_files(ck: str, rnd: int) -> dict:
    d = Path(ck, f"round={rnd}", "bloom")
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def _record_counters(monkeypatch) -> list:
    """The counters of every round run from now on, in order."""
    seen = []
    orig = RoundResult.counters

    def spy(self):
        cnt = orig(self)
        seen.append(cnt)
        return cnt

    monkeypatch.setattr(RoundResult, "counters", spy)
    return seen


@pytest.fixture(scope="module")
def default_crawl(spark, web, web_dfs, tmp_path_factory):
    """One uninterrupted checkpointed crawl of SPEC: its directory and
    round count."""
    ck = str(tmp_path_factory.mktemp("default") / "ck")
    eng = _engine(spark, web_dfs, web[3], SPEC, ck)
    out = eng.run()
    _assert_matches_refsim(web, SPEC, out, eng.metrics)
    return ck, eng.round


def test_scalable_rank_tail_equals_default_crawl(
        spark, web, web_dfs, tmp_path, monkeypatch, default_crawl):
    default_ck, rounds = default_crawl
    monkeypatch.setattr(rank, "SMALL_RANK_ROWS", -1)  # no proven bound
    ranks = []
    orig = round_mod.global_rank

    def spy(df, order_cols, out_col="rank", **kw):
        track = kw.get("track")
        n_before = len(track)
        out = orig(df, order_cols, out_col=out_col, **kw)
        ranks.append((out_col, kw.get("small_hint"), len(track) - n_before))
        return out

    monkeypatch.setattr(round_mod, "global_rank", spy)
    counted = _record_counters(monkeypatch)
    ck = str(tmp_path / "ck")
    eng = _engine(spark, web_dfs, web[3], SPEC, ck)
    eng._init_state()
    while eng.round < SPEC.max_rounds and eng._frontier_count:
        before = _persistent_rdds(spark)
        eng.step()
        assert not _persistent_rdds(spark) - before, eng.round
        # the frontier rank ran on the scalable path, bounded by the
        # counters row's exact count of new rows, and persisted
        assert ranks[-1] == ("seq", counted[-1]["n_enq"], 1)
    assert eng.round == rounds
    _assert_matches_refsim(web, SPEC, eng.results(), eng.metrics)
    assert _frontiers(spark, ck, rounds) == _frontiers(spark, default_ck, rounds)


def test_round_with_nothing_new_reads_zero_counters(
        spark, web, web_dfs, tmp_path, monkeypatch):
    # depth 1: round 1 fetches the seed's children and follows none of them
    spec = _spec(max_rounds=3, depth=1)
    seen = _record_counters(monkeypatch)
    eng = _engine(spark, web_dfs, None, spec, str(tmp_path / "ck"))
    out = eng.run()
    assert len(seen) == 2
    assert seen[0]["n_new"] > 0 and seen[0]["n_enq"] > 0
    assert seen[1]["fetched"] > 0
    assert {k: seen[1][k] for k in ("n_eligible", "n_new", "new_bytes",
                                    "n_enq", "n_logged_out", "n_url_blocked")} \
        == dict.fromkeys(("n_eligible", "n_new", "new_bytes", "n_enq",
                          "n_logged_out", "n_url_blocked"), 0)
    assert all(type(v) is int for v in seen[1].values())
    assert eng.metrics[1]["frontier_next"] == eng._frontier_count == 0
    _assert_matches_refsim((*web[:3], None), spec, out, eng.metrics)


@pytest.mark.parametrize("failure", ["python", "spark"])
def test_failed_action_fails_the_round(
        spark, web, web_dfs, tmp_path, monkeypatch, failure):
    """Round 1 fails in one action while the order write's job stalls: a
    Python exception in the frontier_next write's thread, or a failed
    Spark job in the counters action, which three actions wait for. Both
    fail after the counters job has built the round's persisted frames."""
    @F.pandas_udf("boolean")
    def stall(u: pd.Series) -> pd.Series:
        time.sleep(240)  # once per Arrow batch, not per row
        return u.notna()

    write, counters = ParquetManifestCatalog.write, RoundResult.counters

    def failing_write(self, df, rnd, table):
        if rnd == 1 and table == "order":
            df = df.where(stall(F.col("url")))
        if rnd == 1 and table == "frontier_next" and failure == "python":
            raise RuntimeError("injected")
        return write(self, df, rnd, table)

    def failing_counters(self):
        cnt = counters(self)
        if self.metrics["round"] == 1 and failure == "spark":
            spark.range(1).select(F.raise_error(F.lit("injected"))).collect()
        return cnt

    monkeypatch.setattr(ParquetManifestCatalog, "write", failing_write)
    monkeypatch.setattr(RoundResult, "counters", failing_counters)
    ck = str(tmp_path / "ck")
    first = _engine(spark, web_dfs, web[3], SPEC, ck)
    first._init_state()
    first.step()
    t0 = time.monotonic()
    with pytest.raises(Exception, match="injected"):
        first.step()
    assert time.monotonic() - t0 < 90
    assert not os.path.exists(f"{ck}/round=1/_COMMIT.json")
    monkeypatch.setattr(ParquetManifestCatalog, "write", write)
    monkeypatch.setattr(RoundResult, "counters", counters)

    eng = _engine(spark, web_dfs, web[3], SPEC, ck)
    out = eng.run(resume=True)
    _assert_matches_refsim(web, SPEC, out, first.metrics[:1] + eng.metrics)


def test_rerun_round_folds_from_committed_shards(
        spark, web, web_dfs, tmp_path, monkeypatch, default_crawl):
    default_ck, rounds = default_crawl
    crash_round = 1
    commit = ParquetManifestCatalog.commit

    def crash_at(self, rnd, manifest):
        if rnd == crash_round:
            raise RuntimeError("crash before _COMMIT.json")
        return commit(self, rnd, manifest)

    monkeypatch.setattr(ParquetManifestCatalog, "commit", crash_at)
    ck = str(tmp_path / "ck")
    first = _engine(spark, web_dfs, web[3], SPEC, ck)
    with pytest.raises(RuntimeError, match="before _COMMIT"):
        first.run()
    monkeypatch.setattr(ParquetManifestCatalog, "commit", commit)
    # the crashed attempt's shards differ from the committed round's: set
    # every bit of one shard it wrote, and leave a shard it did not write
    bloom_dir = f"{ck}/round={crash_round}/bloom"
    names = sorted(os.listdir(bloom_dir))
    full = np.full_like(np.load(os.path.join(bloom_dir, names[0])), 255)
    np.save(os.path.join(bloom_dir, names[0]), full)
    absent = next(f"shard={s:04d}.npy" for s in range(8)
                  if f"shard={s:04d}.npy" not in names)
    np.save(os.path.join(bloom_dir, absent), full)

    eng = _engine(spark, web_dfs, web[3], SPEC, ck)
    out = eng.run(resume=True)
    assert eng.round == rounds
    _assert_matches_refsim(web, SPEC, out,
                           first.metrics[:crash_round] + eng.metrics)
    for rnd in range(rounds):
        assert _bloom_files(ck, rnd) == _bloom_files(default_ck, rnd), rnd


def test_default_crawl_fits_its_rounds_in_one_task_writes(default_crawl):
    """The counters row and the round's bounds size the small outputs:
    each of them is one parquet file per round."""
    default_ck, rounds = default_crawl
    for rnd in range(rounds):
        for table in ("frontier_next", "seen_delta", "part_metrics",
                      "outlinks"):
            files = [f for f in os.listdir(f"{default_ck}/round={rnd}/{table}")
                     if f.endswith(".parquet")]
            assert len(files) == 1, (rnd, table, files)

