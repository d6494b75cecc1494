"""Tests of the benchmark itself (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload at a tiny size, traced and untraced, and
take several minutes on a 4-core host.
"""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402


def _declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


# ---- the checks reject corrupted outputs ----------------------------------

def _small_frontier():
    from ideacrawler_spark.functions.urlnorm import canonicalize

    cands = pd.DataFrame(dict(
        host=["a.example"] * 4 + ["b.example"] * 3,
        url=["http://a.example/1", "HTTP://A.EXAMPLE:80/1", "http://a.example/2",
             "http://a.example/3?", "http://b.example/1", "http://b.example/2",
             "http://b.example/seen"],
        depth=[1, 0, 2, 1, 0, 0, 0],
        seq=[0, 1, 2, 3, 4, 5, 6],
    ))
    return checks.frontier_expected(cands, {"http://b.example/seen"}, 2, canonicalize)


def test_frontier_expected_dedups_drops_seen_and_caps_hosts():
    want = _small_frontier()
    # a.example/2 is a's third URL in (depth, seq) order: over budget
    assert list(want["url"]) == ["http://a.example/1", "http://b.example/1",
                                 "http://b.example/2", "http://a.example/3"]
    assert list(want["fetch_seq"]) == [0, 1, 2, 3]
    assert checks.frontier_matches(want.copy(), want) == []


def test_frontier_check_fails_on_swapped_fetch_seq():
    want = _small_frontier()
    got = want.copy()
    got.loc[[0, 1], "fetch_seq"] = got.loc[[1, 0], "fetch_seq"].to_numpy()
    assert checks.frontier_matches(got, want)


def test_frontier_invariants_fail_on_gaps_and_seen_hits():
    ok = dict(rows=3, distinct_urls=3, seen_hits=0, max_per_host=2,
              min_seq=0, max_seq=2, distinct_seqs=3)
    assert checks.frontier_invariants(ok, 2) == []
    assert checks.frontier_invariants(dict(ok, max_seq=3), 2)
    assert checks.frontier_invariants(dict(ok, seen_hits=1), 2)
    assert checks.frontier_invariants(dict(ok, max_per_host=3), 2)
    assert checks.frontier_invariants(dict(ok, distinct_urls=2), 2)


def _golden_and_outputs():
    from ideacrawler_spark.config import JobSpec
    from ideacrawler_spark.refsim import simulate
    from ideacrawler_spark.sources.fixtures import synth_web

    pages, robots, seeds, _ = synth_web(seed=3, scale=1)
    spec = JobSpec(job_id="t", seed_url=seeds[0]["url"], min_delay_s=1,
                   round_seconds=10, follow_other_domains=True, max_rounds=3)
    golden = simulate(spec, pages, robots, None)
    seqs = {(o["url"], o["round"]): o["fetch_seq"] for o in golden.order}
    got = dict(
        order=[(o["fetch_seq"], o["url"], o["host"], o["depth"], o["round"])
               for o in golden.order],
        seen=set(golden.seen),
        shipped=sorted((seqs[(s["url"], s["round"])], s["url"], s["depth"],
                        s["anchor_text"], s["meta"], s["status"], s["text"],
                        s["success"]) for s in golden.shipped),
        metrics=[dict(m) for m in golden.metrics],
    )
    return golden, got


def test_crawl_check_accepts_the_golden_itself():
    golden, got = _golden_and_outputs()
    assert len(got["order"]) > 2
    assert checks.crawl_matches(golden, got, "golden") == []


def test_crawl_check_fails_on_swapped_fetch_seq():
    golden, got = _golden_and_outputs()
    (a, *ra), (b, *rb) = got["order"][0], got["order"][1]
    got["order"][0], got["order"][1] = (b, *ra), (a, *rb)
    assert checks.crawl_matches(golden, got, "corrupt")


def test_crawl_check_fails_on_changed_text_and_lineage():
    golden, got = _golden_and_outputs()
    row = list(got["shipped"][0])
    row[6] = row[6] + " "
    got["shipped"][0] = tuple(row)
    got["metrics"][0]["fetched"] += 1
    bad = checks.crawl_matches(golden, got, "corrupt")
    assert any("shipped" in b for b in bad)
    assert any("lineage" in b for b in bad)


# ---- the command ------------------------------------------------------------

def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontier-skewed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


_LATER_SESSION = """
import shutil, sys
sys.path.insert(0, sys.argv[1])
from perfbench.session import make_spark
make_spark(1, event_log=sys.argv[2]).stop()
shutil.rmtree(sys.argv[2])
spark = make_spark(1)
assert spark.range(3).count() == 3
spark.stop()
"""


def test_later_session_does_not_inherit_the_event_log(tmp_path):
    """The traced frontier run stops its event-logged session, deletes the
    log and starts a local[1] session in the same JVM: that session must
    not look for the deleted log directory."""
    log = tmp_path / "eventlog"
    log.mkdir()
    r = subprocess.run([sys.executable, "-c", _LATER_SESSION, ROOT, str(log)],
                       capture_output=True, text=True, timeout=170)
    assert r.returncode == 0, r.stderr[-2000:]


@pytest.fixture
def tiny(monkeypatch):
    from perfbench import crawl, frontier

    monkeypatch.setattr(frontier, "N_FULL", 20_000)
    monkeypatch.setattr(frontier, "N_WARM", 5_000)
    monkeypatch.setattr(frontier, "N_SMALL", 5_000)
    monkeypatch.setattr(frontier, "N_CANON_SAMPLE", 5_000)
    monkeypatch.setattr(frontier, "WARMUP_SMALL", 1)
    monkeypatch.setattr(crawl, "SCALE", 1)
    monkeypatch.setattr(crawl, "N_UNSEEN", 1_000)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["frontier-skewed", "crawl-durable"])
def test_smoke_prints_every_declared_metric(tiny, capsys, workload, trace):
    from perfbench import run

    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace)])
    last = capsys.readouterr().out.strip().splitlines()[-1]
    res = json.loads(last)
    assert code == 0, res
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
