"""``crawl-durable``: a polite, checkpointed ``CrawlEngine`` crawl of
``synth_web(seed, SCALE)`` read through ``subscribe()``, then a fresh
engine that ``resume()``s from a mid-crawl commit and finishes the crawl.
The web's client pushes (from round 1 on) keep every round busy whatever
the seed does to the link chain from the seed page.

The crawl runs ``MAX_ROUNDS`` rounds and compacts the seen-set in its
last round (the engine's default of one compaction per 8 rounds would need
more rounds than a run can afford). So the uninterrupted crawl writes seen
deltas, folds the Bloom shards, compacts and expires; the resumed crawl
rebuilds the seen-set from the initial table plus its delta, then compacts and
expires too. One caller runs one round at a time.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import spans
from perfbench.session import (Counter, cores, cpu_seconds, fresh_dir,
                               make_spark, median, metric, out_dir,
                               peak_rss_mb)

SCALE = 5
MAX_ROUNDS = 2
COMPACT_EVERY = 2
SNAPSHOT_ROUND = 0    # resume starts after this committed round
N_UNSEEN = 20_000
TABLES = ("shipped", "order", "part_metrics", "outlinks", "frontier_next",
          "seen_delta", "seen_full")


def job_spec(seed: int, first_url: str):
    from ideacrawler_spark.config import JobSpec

    return JobSpec(job_id=f"perfbench-durable-{seed}", seed_url=first_url,
                   min_delay_s=1, round_seconds=10, max_concurrent=5,
                   follow_other_domains=True, max_rounds=MAX_ROUNDS)


def dir_size(path: str):
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


class Crawl:
    def __init__(self, spark, seed: int):
        import pandas as pd

        from ideacrawler_spark.sources.fixtures import (PAGES_SCHEMA,
                                                        ROBOTS_SCHEMA,
                                                        synth_web)

        self.spark = spark
        self.seed = seed
        self.web = synth_web(seed=seed, scale=SCALE)
        pages, robots, seeds, _ = self.web
        n_cores = cores()
        self.engine_kw = dict(shuffle_partitions=n_cores, bloom_shards=n_cores,
                              seen_compact_every=COMPACT_EVERY)
        self.pages_df = spark.createDataFrame(pd.DataFrame(pages), PAGES_SCHEMA) \
            .repartition(n_cores).persist()
        self.pages_df.count()
        self.robots_df = spark.createDataFrame(robots, ROBOTS_SCHEMA)
        self.spec = job_spec(seed, seeds[0]["url"])

    def engine(self, ckpt: str):
        from ideacrawler_spark.plans.crawl import CrawlEngine

        return CrawlEngine(self.spark, self.spec, self.pages_df, self.robots_df,
                           pushes=self.web[3], checkpoint_dir=ckpt,
                           **self.engine_kw)

    def rounds(self, gen, tracer=None, on_round=None):
        """Drive a subscribe() generator; one dict per yielded round with
        the wall time spent inside the engine producing it."""
        out = []
        while True:
            c0, t0, e0 = cpu_seconds(), time.monotonic(), time.time()
            if tracer is not None:
                with tracer.span("round") as sp:
                    y = next(gen, None)
                sp.attrs["round"] = None if y is None else y["round"]
            else:
                y = next(gen, None)
            t1, e1, c1 = time.monotonic(), time.time(), cpu_seconds()
            if y is None:
                return out
            out.append(dict(round=y["round"], wall=t1 - t0, cpu=c1 - c0,
                            start=t0, end=t1,
                            epoch=(e0, e1), fetched=y["metrics"]["fetched"],
                            pending=y["metrics"]["admitted"] + y["metrics"]["carried"]))
            if on_round is not None:
                on_round(y)

    def warm_up(self) -> float:
        """One durable round of a separate crawl: the cold start of the
        Python workers and the first compilation of the round's code."""
        gen = self.engine(fresh_dir("ckpt", "warmup")).subscribe()
        t = time.monotonic()
        next(gen)
        gen.close()
        return time.monotonic() - t

    def one_pass(self, tag: str, tracer=None) -> dict:
        """Uninterrupted crawl, copying its checkpoint after SNAPSHOT_ROUND
        commits; then a fresh engine resumes that copy to the end."""
        ckpt = fresh_dir("ckpt", tag)
        snap = os.path.join(out_dir("ckpt"), tag + "-resume")
        bloom_snap = os.path.join(out_dir("ckpt"), tag + "-bloom")
        shutil.rmtree(snap, ignore_errors=True)
        shutil.rmtree(bloom_snap, ignore_errors=True)
        snap_s = []

        def snapshot(y):
            if y["round"] == SNAPSHOT_ROUND:
                t = time.monotonic()
                shutil.copytree(ckpt, snap)
                shutil.copytree(eng.bloom_dir, bloom_snap)
                snap_s.append(time.monotonic() - t)

        c0, t0 = cpu_seconds(), time.monotonic()
        eng = self.engine(ckpt)
        rounds = self.rounds(eng.subscribe(), tracer, snapshot)
        t1 = time.monotonic()
        eng2 = self.engine(snap)
        resumed = self.rounds(eng2.subscribe(resume=True), tracer)
        t2, c2 = time.monotonic(), cpu_seconds()
        snap_time = sum(snap_s)
        return dict(tag=tag, eng=eng, eng2=eng2, ckpt=ckpt, snap=snap,
                    bloom_snap=bloom_snap, rounds=rounds, resumed=resumed,
                    first_round_s=rounds[0]["end"] - t0,
                    resume_s=resumed[0]["end"] - t1 if resumed else float("nan"),
                    job_s=t2 - t0 - snap_time, job_cpu_s=c2 - c0,
                    snapshot_s=snap_time)

    def check(self, p: dict, counter: Counter) -> None:
        from ideacrawler_spark.refsim import simulate
        from perfbench import checks

        pages, robots, _, pushes = self.web
        golden = simulate(self.spec, pages, robots, pushes)
        counter.check(len(golden.order) > 0, "refsim golden crawl is empty")
        for label, eng in (("uninterrupted", p["eng"]), ("resumed", p["eng2"])):
            got = checks.crawl_outputs(eng.results())
            for bad in checks.crawl_matches(golden, got, f"{p['tag']} {label}") or [None]:
                counter.check(bad is None, str(bad))
        counter.check(p["resumed"] and p["resumed"][0]["round"] == SNAPSHOT_ROUND + 1,
                      f"{p['tag']}: resume did not continue after round {SNAPSHOT_ROUND}")


def per_round(p: dict) -> dict:
    """Wall and CPU seconds per yielded round of a whole pass: engine
    construction, both crawls' rounds and the resume, snapshot copy
    excluded."""
    n = len(p["rounds"]) + len(p["resumed"])
    return dict(wall=p["job_s"] / n, cpu=p["job_cpu_s"] / n)


def run(seed: int, seconds: float, trace: bool):
    from perfbench.session import environment, session_conf

    counter = Counter()
    load0 = os.getloadavg()
    log_dir = out_dir("eventlog", f"crawl-{os.getpid()}") if trace else None
    t0 = time.monotonic()
    spark = make_spark(cores(), event_log=log_dir)
    session_s = time.monotonic() - t0
    gen_s = []
    for i in range(3):
        t = time.monotonic()
        if i:
            crawl.pages_df.unpersist()
        crawl = Crawl(spark, seed)
        gen_s.append(time.monotonic() - t)
    t = time.monotonic()
    warm = crawl.warm_up()
    warm_s = time.monotonic() - t
    setup_s = session_s + median(gen_s) + warm_s

    passes = []
    t_end = time.monotonic() + seconds
    while not passes or time.monotonic() < t_end:
        passes.append(crawl.one_pass(f"pass{len(passes)}"))
        counter.ok()
    record = dict(env=environment(), conf=session_conf(spark), loadavg_start=load0,
                  scale=SCALE, max_rounds=MAX_ROUNDS, compact_every=COMPACT_EVERY,
                  snapshot_round=SNAPSHOT_ROUND, engine=crawl.engine_kw,
                  spec=crawl.spec.to_dict(), session_s=session_s,
                  input_gen_s=gen_s, warmup_walls=warm,
                  passes=[{k: v for k, v in p.items() if k not in ("eng", "eng2")}
                          for p in passes])
    if trace:
        metrics = traced(crawl, passes, counter, record)
    for p in passes:
        crawl.check(p, counter)
    record["loadavg_end"] = os.getloadavg()
    rss = peak_rss_mb()
    spark.stop()
    if trace:
        metrics.update(crawl_log_metrics(spans.EventLog.latest(log_dir), record))
        shutil.rmtree(log_dir)
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "round_s": metric(median([per_round(p)["wall"] for p in passes]), "s"),
            "round_cpu_s": metric(median([per_round(p)["cpu"] for p in passes]), "s"),
            "peak_rss_mb": metric(rss, "MB"),
        }
    return counter, metrics, record


def traced(crawl: Crawl, passes, counter, record) -> dict:
    from ideacrawler_spark.operators.bloom import maybe_seen
    from perfbench import inputs
    from perfbench.frontier import canonicalize_cost
    from pyspark.sql import functions as F

    spark = crawl.spark
    untraced = median([per_round(q)["wall"] for q in passes])
    tracer = spans.Tracer()
    patch = spans.Patch(tracer)
    spans.wrap_engine_layers(patch)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        p = crawl.one_pass("traced", tracer)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        patch.restore()
    counter.ok()
    udf = spans.udf_seconds(spark)
    passes.append(p)
    tracer.dump(os.path.join(out_dir("results"), f"spans-crawl-{os.getpid()}.json"))

    round_spans = [s for s in tracer.spans if s.name == "round" and s.attrs.get("round") is not None]
    all_rounds = p["rounds"] + p["resumed"]

    def layer_s(name):
        """Seconds in a wrapped layer, per round."""
        return [sum(c.dur for c in tracer.named(name, within=r)) for r in round_spans]

    def descendants(sp):
        kids = tracer.children(sp.sid)
        return kids + [d for k in kids for d in descendants(k)]

    cover = [spans.union_length([(d.start, d.end) for d in descendants(r)]) / r.dur
             for r in round_spans]
    steps = layer_s("plans.crawl.step")
    plan = layer_s("plans.round.run_round")
    bloom_s = layer_s("operators.bloom.update_shards")
    commit = layer_s("plans.catalog.commit")
    actions = [s - a - b - c for s, a, b, c in zip(steps, plan, bloom_s, commit)]
    compact_rounds = {r for r in range(MAX_ROUNDS) if (r + 1) % COMPACT_EVERY == 0}
    comp = [s for s, r in zip(steps, all_rounds) if r["round"] in compact_rounds]
    plain = [s for s, r in zip(steps, all_rounds) if r["round"] not in compact_rounds]

    m = {
        "trace.overhead_ratio": metric(per_round(p)["wall"] / untraced, "ratio"),
        "trace.coverage": metric(median(cover), "ratio"),
        "round.plan_build_s": metric(median(plan), "s"),
        "round.actions_s": metric(median(actions), "s"),
        "crawl.step_s": metric(median(steps), "s"),
        "crawl.compaction_extra_s": metric(median(comp) - median(plain), "s"),
        "crawl.first_round_s": metric(p["first_round_s"], "s"),
        "crawl.resume_s": metric(p["resume_s"], "s"),
        "bloom.update_s": metric(median(bloom_s), "s"),
        "catalog.commit_s": metric(median(commit), "s"),
        "catalog.expire_s": metric(median(
            [s.dur for s in tracer.named("plans.catalog.expire")]), "s"),
        "catalog.read_s": metric(sum(
            sum(c.dur for c in tracer.named("plans.catalog.read", within=r))
            for r in tracer.named("plans.crawl.resume")), "s"),
    }
    for t in TABLES:
        ws = [s.dur for s in tracer.named("plans.catalog.write") if s.attrs["table"] == t]
        m[f"catalog.write_s.{t}"] = metric(median(ws) if ws else 0.0, "s")
    n_rounds = len(all_rounds)
    for name, secs in udf.items():
        m[f"udf.{name}_s"] = metric(secs / n_rounds, "s")

    eng = p["eng"]
    n_bytes, n_files = dir_size(p["ckpt"])
    shipped = sum(r["fetched"] for r in p["rounds"])
    m["catalog.bytes_per_round"] = metric(n_bytes / len(p["rounds"]), "B")
    m["catalog.files_per_round"] = metric(n_files / len(p["rounds"]), "count")
    m["crawl.ckpt_bytes_per_page"] = metric(n_bytes / shipped, "B/page")
    m["crawl.seen_rows"] = metric(eng.seen.count(), "count")
    m["crawl.frontier_rows"] = metric(eng.metrics[-1]["frontier_next"], "count")
    m["admission.admit_ratio"] = metric(
        sum(x["admitted"] for x in eng.metrics)
        / sum(x["admitted"] + x["carried"] for x in eng.metrics), "ratio")
    m["bloom.shard_bytes"] = metric(dir_size(eng.bloom_dir)[0], "B")

    shards = crawl.engine_kw["bloom_shards"]
    unseen = inputs.unseen_keys(spark, crawl.seed, N_UNSEEN) \
        .withColumn("url_hash", F.xxhash64("key"))
    m["bloom.fpr"] = metric(maybe_seen(unseen, eng.bloom_dir, n_shards=shards)
                            .filter("_maybe_seen").count() / N_UNSEEN, "ratio")
    # what the prefilter of the round after the snapshot saw: that round's
    # candidate links against the Bloom shards committed at the snapshot
    links = eng.catalog.read(SNAPSHOT_ROUND + 1, "outlinks") \
        .select(F.explode("outlinks").alias("key")) \
        .withColumn("url_hash", F.xxhash64("key"))
    probed = maybe_seen(links, p["bloom_snap"], n_shards=shards) \
        .groupBy().agg(F.count("*").alias("n"),
                       F.sum((~F.col("_maybe_seen")).cast("long")).alias("passed")) \
        .first()
    m["bloom.pass_ratio"] = metric((probed["passed"] or 0) / max(probed["n"], 1), "ratio")

    m["urlnorm.canonicalize_us_per_url"] = canonicalize_cost(spark, crawl.seed)
    record["round_windows"] = [r["epoch"] for r in all_rounds]
    record["traced_pass"] = {k: v for k, v in p.items() if k not in ("eng", "eng2")}
    return m


def crawl_log_metrics(ev: "spans.EventLog", record: dict) -> dict:
    """Jobs are assigned to rounds by submission time: the engine's action
    threads do not inherit job groups."""
    windows = record["round_windows"]
    totals = [ev.totals(ev.job_ids(window=w)) for w in windows]
    n = len(totals)
    m = {"round.jobs": metric(median([t["jobs"] for t in totals]), "count")}
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                    ("gc_s", "s"), ("shuffle_write_bytes", "B"),
                    ("spill_bytes", "B")):
        m[f"spark.{k}"] = metric(sum(t[k] for t in totals) / n, unit)
    ids = [j for w in windows for j in ev.job_ids(window=w)]
    m["admission.max_over_median_rows"] = metric(ev.max_over_median_rows(ids), "ratio")
    record["spark_per_round"] = totals
    return m
