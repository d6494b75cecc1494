"""End-to-end: the Spark engine must reproduce the reference simulator
bit-for-bit — crawl order, seen-set, shipped pages (incl. byte-identical
text) and per-round lineage metrics (SURVEY.md §5, FIXTURES.md goldens)."""

import pytest

from ideacrawler_spark.config import JobSpec
from ideacrawler_spark.plans.crawl import CrawlEngine
from ideacrawler_spark.refsim import simulate


def _run_both(spark, web, web_dfs, spec, pushes=None, ckpt=None):
    pages, robots, seeds, _ = web
    pages_df, robots_df, _, _ = web_dfs
    golden = simulate(spec, pages, robots, pushes)
    eng = CrawlEngine(spark, spec, pages_df, robots_df, pushes,
                      checkpoint_dir=ckpt, shuffle_partitions=8)
    got = eng.run()
    return golden, got


def _assert_match(golden, got):
    # --- crawl order: exact, order-sensitive -----------------------------
    order = [
        (r["fetch_seq"], r["url"], r["host"], r["depth"], r["round"])
        for r in got["order"].orderBy("fetch_seq").collect()
    ] if got["order"] is not None else []
    want = [
        (o["fetch_seq"], o["url"], o["host"], o["depth"], o["round"])
        for o in golden.order
    ]
    assert order == want
    # --- seen-set: set equality, bit-for-bit ------------------------------
    seen = {r["key"] for r in got["seen"].collect()}
    assert seen == set(golden.seen)
    # --- shipped: row match + byte-identical text -------------------------
    shipped = sorted(
        (r["fetch_seq"], r["url"], r["depth"], r["anchor_text"], r["meta"],
         r["status"], r["text"], r["success"])
        for r in got["shipped"].collect()
    ) if got["shipped"] is not None else []
    # golden shipped order follows fetch order; attach fetch_seq by lookup
    seqs = {(o["url"], o["round"]): o["fetch_seq"] for o in golden.order}
    want_shipped = sorted(
        (seqs[(s["url"], s["round"])], s["url"], s["depth"], s["anchor_text"],
         s["meta"], s["status"], s["text"], s["success"])
        for s in golden.shipped
    )
    assert shipped == want_shipped
    # --- lineage metrics ---------------------------------------------------
    got_m = {
        m["round"]: (m["admitted"], m["fetched"], m["deduped"],
                     m["robots_denied"], m["errors"],
                     m.get("url_blocked", 0))
        for m in got["metrics"]
    }
    for m in golden.metrics:
        assert got_m[m["round"]] == (
            m["admitted"], m["fetched"], m["deduped"],
            m["robots_denied"], m["errors"], m.get("url_blocked", 0),
        ), f"round {m['round']}: {got_m[m['round']]} != {m}"


def test_flagship_seeded_crawl(spark, web, web_dfs):
    """Seeded, polite, depth-unlimited crawl of hosta with robots + budgets."""
    spec = JobSpec(job_id="job1", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10, max_concurrent=5)
    golden, got = _run_both(spark, web, web_dfs, spec)
    assert len(golden.order) > 20  # fixture sanity: a real crawl happened
    _assert_match(golden, got)


def test_depth_limited_with_callbacks(spark, web, web_dfs):
    spec = JobSpec(job_id="job2", seed_url="http://hosta.example/p/0",
                   depth=2, callback_url_regexp=r"p/[0-9]$",
                   callback_seed_url=True, min_delay_s=1, round_seconds=10)
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)


def test_follow_regexp_and_anchor_callback(spark, web, web_dfs):
    spec = JobSpec(job_id="job3", seed_url="http://hosta.example/p/0",
                   follow_url_regexp=r"/p/[0-3][0-9]?$",
                   callback_anchor_regexp=r"go",
                   min_delay_s=1, round_seconds=10)
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)


def test_seedless_pushes_multihost_impolite(spark, web, web_dfs):
    """TestMultiSiteFilter-shaped: seedless, pushes, depth 1, impolite
    (main_test.go:135-216)."""
    pushes = [
        dict(round=0, url="http://hosta.example/p/0", method="GET", meta="m1", seq=0),
        dict(round=0, url="http://hostb.example/p/0", method="GET", meta="m2", seq=1),
        dict(round=2, url="HTTP://HOSTC.example:80/p/0", method="GET", meta="m3", seq=2),
    ]
    spec = JobSpec(job_id="job4", seed_url="", impolite=True, depth=1,
                   follow_url_regexp=r"example", callback_url_regexp=r"p/[0-4]$",
                   min_delay_s=1, round_seconds=10)
    golden, got = _run_both(spark, web, web_dfs, spec, pushes=pushes)
    _assert_match(golden, got)


def test_unsafe_normalize(spark, web, web_dfs):
    spec = JobSpec(job_id="job5", seed_url="http://hostb.example/p/0",
                   unsafe_normalize=True, min_delay_s=1, round_seconds=10,
                   follow_other_domains=True, max_rounds=6)
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)


def test_outlinks_sink(spark, web, web_dfs):
    """Analyzed-URLs sink (S8): per-page normalized outlink sets."""
    spec = JobSpec(job_id="job6", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10, max_rounds=3)
    golden, got = _run_both(spark, web, web_dfs, spec)
    got_ol = {
        r["parent_url"]: list(r["outlinks"])
        for r in got["outlinks"].collect()
    }
    assert got_ol == golden.outlinks


def test_url_gating_blocklisted_host_never_fetched(spark, web, web_dfs):
    """Frontier URL gating wired into the crawl (VERDICT r03 #1): with
    hostb.example suffix-blocklisted, a follow-other-domains crawl ships
    zero hostb pages, counts the drops in per-round metrics, and still
    matches the simulator bit-for-bit (the simulator implements the same
    JobSpec knobs independently)."""
    spec = JobSpec(job_id="job-gate", seed_url="http://hosta.example/p/0",
                   follow_other_domains=True, depth=3,
                   min_delay_s=1, round_seconds=10, max_concurrent=5,
                   max_rounds=10, host_blocklist=("hostb.example",))
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)
    fetched_hosts = {o["host"] for o in golden.order}
    assert "hostc.example" in fetched_hosts  # other domains DO crawl
    assert "hostb.example" not in fetched_hosts  # blocked: zero fetches
    assert all("hostb.example" not in r["url"]
               for r in got["order"].collect())
    assert sum(m.get("url_blocked", 0) for m in got["metrics"]) > 0


def test_url_gating_spam_signals(spark, web, web_dfs):
    """Spam-signal thresholds as JobSpec knobs: with max_path_depth=1
    every /p/N child (depth 2) is gated out, so the crawl fetches ONLY
    the seed, every extracted eligible link is counted url_blocked, and
    engine == simulator throughout."""
    spec = JobSpec(job_id="job-gate2", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10, max_concurrent=5,
                   max_rounds=8, max_path_depth=1, max_query_params=0)
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)
    assert len(golden.order) == 1  # the seed alone; all children gated
    assert golden.metrics[0]["url_blocked"] > 0


def test_callback_xpath_attr_and_text_spec(spark, web, web_dfs):
    """Crawl golden driving the WIDENED xpath forms (VERDICT r03 #5)
    through a real callback spec: //title/text() equality ships exactly
    the one page whose title (= its URL in the fixture) matches."""
    spec = JobSpec(job_id="job-xp", seed_url="http://hosta.example/p/0",
                   depth=2, min_delay_s=1, round_seconds=10,
                   max_concurrent=5, max_rounds=8,
                   callback_xpath_match=(
                       ("//title/text()", "http://hosta.example/p/2"),))
    golden, got = _run_both(spark, web, web_dfs, spec)
    _assert_match(golden, got)
    assert [s["url"] for s in golden.shipped] == ["http://hosta.example/p/2"]


def test_subscribe_streams_each_round(spark, web, web_dfs):
    """AddDomainAndListen analogue: the per-round subscription yields the
    same shipped set as a plain run(), in round order; abandoning the
    generator stops the crawl like a subscriber disconnect."""
    from ideacrawler_spark.config import JobSpec
    from ideacrawler_spark.plans.crawl import CrawlEngine

    pages_df, robots_df, _, _ = web_dfs
    spec = JobSpec(job_id="sub", seed_url="http://hosta.example/p/0",
                   min_delay_s=1, round_seconds=10, max_concurrent=5,
                   depth=3, max_rounds=8)
    ref = CrawlEngine(spark, spec, pages_df, robots_df,
                      shuffle_partitions=8).run()
    want = sorted((r["fetch_seq"], r["url"], r["text"])
                  for r in ref["shipped"].collect())

    eng = CrawlEngine(spark, spec, pages_df, robots_df, shuffle_partitions=8)
    got, rounds = [], []
    for ev in eng.subscribe():
        rounds.append(ev["round"])
        got.extend((r["fetch_seq"], r["url"], r["text"])
                   for r in ev["shipped"].collect())
        assert ev["outlinks"] is not None
        assert ev["metrics"]["round"] == ev["round"]
    assert rounds == sorted(rounds)
    assert sorted(got) == want

    # disconnect mid-crawl: no further rounds run
    eng2 = CrawlEngine(spark, spec, pages_df, robots_df, shuffle_partitions=8)
    it = eng2.subscribe()
    next(it)
    it.close()  # subscriber goes away
    r_at_close = eng2.round
    assert eng2.round == r_at_close  # nothing advances afterwards
    assert eng2.round < ref["rounds"]
