"""``frontier-skewed``: the engine's round prelude over a seeded frontier.

canonicalize_udf -> first_occurrence -> anti_join_seen -> admit_budget ->
global_rank -> noop sink, called through the operators' public functions
in the engine's order. One caller runs one round at a time (closed loop).
"""

from __future__ import annotations

import os
import shutil
import time
from typing import List, Optional

from pyspark.sql import functions as F

from perfbench import inputs, spans
from perfbench.session import (Counter, cores, cpu_seconds, environment,
                               make_spark, median, metric, out_dir,
                               peak_rss_mb, session_conf)

N_FULL = 300_000      # URLs per round
N_SMALL = 10_000      # URLs in the pandas cross-check
N_WARM = 50_000       # URLs per warm-up round
N_CANON_SAMPLE = 200_000
HOST_BUDGET = 500
MIN_ROUNDS = 3
WARMUP_SMALL = 2
WARMUP_MAX = 3


def prelude(fr, seen, parts: int, track: list):
    """The round prelude as a lazy plan; ``track`` receives the frame
    global_rank persists, so the caller can release it."""
    from ideacrawler_spark.functions.urlnorm import canonicalize_udf
    from ideacrawler_spark.operators.admission import admit_budget
    from ideacrawler_spark.operators.dedup import anti_join_seen, first_occurrence
    from ideacrawler_spark.operators.rank import global_rank

    canon = fr.withColumn("url_norm", canonicalize_udf()(F.col("url"))) \
              .select("url_norm", "host", "depth", "seq")
    firsts = first_occurrence(canon, key="url_norm", order_cols=("depth", "seq"))
    fresh = anti_join_seen(firsts, seen, key="url_norm", partitioned=True)
    admitted, _carried = admit_budget(
        fresh.withColumnRenamed("url_norm", "url"), F.lit(HOST_BUDGET), None,
        host_budget_max=HOST_BUDGET)
    return global_rank(admitted, ["depth", "seq"], out_col="fetch_seq",
                       num_partitions=parts, persist_input=True, track=track)


def one_round(fr, seen, parts: int, keep: Optional[str] = None) -> dict:
    """Build and run one prelude round into the noop sink, or into parquet
    at ``keep``. (A cached output would serve every later round of the
    same plan from the cache.)"""
    track: list = []
    c0, t0 = cpu_seconds(), time.monotonic()
    ranked = prelude(fr, seen, parts, track)
    t1 = time.monotonic()
    if keep:
        ranked.write.mode("overwrite").parquet(keep)
    else:
        ranked.write.format("noop").mode("overwrite").save()
    t2, c2 = time.monotonic(), cpu_seconds()
    for df in track:
        df.unpersist()
    return dict(wall=t2 - t0, cpu=c2 - c0, plan_build=t1 - t0, start=t0, end=t2)


def load_inputs(spark, seed: int, n: int, parts: int):
    fr = inputs.frontier(spark, seed, n, parts).persist()
    seen = inputs.seen(spark, seed, n, parts).persist()
    fr.count()
    seen.count()
    return fr, seen


def warm_up(spark, seed: int, fr, seen, parts: int):
    """Small rounds that absorb the cold start of the Python workers and
    the JVM's compilation, then full rounds until the round time stops
    falling (a round not 5% faster than the one before). The first full
    round writes its output to parquet for the checks that follow the timed
    region. Returns (walls, parquet path)."""
    small_fr, small_seen = load_inputs(spark, seed + 1, N_WARM, parts)
    walls = [one_round(small_fr, small_seen, parts)["wall"]
             for _ in range(WARMUP_SMALL)]
    small_fr.unpersist()
    small_seen.unpersist()
    kept = os.path.join(out_dir("frontier"), f"ranked-{os.getpid()}")
    full = [one_round(fr, seen, parts, keep=kept)["wall"]]
    while len(full) < WARMUP_MAX:
        full.append(one_round(fr, seen, parts)["wall"])
        if full[-1] > 0.95 * full[-2]:
            break
    return walls + full, kept


def timed_loop(fr, seen, parts: int, seconds: float, counter: Counter) -> List[dict]:
    rounds: List[dict] = []
    t_end = time.monotonic() + seconds
    while len(rounds) < MIN_ROUNDS or time.monotonic() < t_end:
        try:
            rounds.append(one_round(fr, seen, parts))
            counter.ok()
        except Exception as e:  # noqa: BLE001 — a failed round is counted, not fatal
            counter.fail(f"round {len(rounds)}: {type(e).__name__}: {e}")
            if len(counter.failures) > 2:
                break
    return rounds


def check(spark, seed: int, seen, parts: int, ranked, counter: Counter) -> None:
    """Invariants of a full-N round's output (written during warm-up), then
    an exact pandas recomputation at small N."""
    from ideacrawler_spark.functions.urlnorm import canonicalize
    from perfbench import checks

    agg = ranked.agg(
        F.count("*").alias("rows"),
        F.countDistinct("url").alias("distinct_urls"),
        F.min("fetch_seq").alias("min_seq"),
        F.max("fetch_seq").alias("max_seq"),
        F.countDistinct("fetch_seq").alias("distinct_seqs"),
    ).first().asDict()
    agg["seen_hits"] = ranked.join(
        seen.withColumnRenamed("key", "url"), "url", "left_semi").count()
    agg["max_per_host"] = ranked.groupBy("host").count() \
        .agg(F.max("count")).first()[0] or 0
    for bad in checks.frontier_invariants(agg, HOST_BUDGET) or [None]:
        counter.check(bad is None, f"full N: {bad}")

    small_fr = inputs.frontier(spark, seed, N_SMALL, parts)
    small_seen = inputs.seen(spark, seed, N_SMALL, parts)
    track = []
    got = prelude(small_fr, small_seen, parts, track).toPandas()
    for df in track:
        df.unpersist()
    want = checks.frontier_expected(
        small_fr.toPandas(), {r["key"] for r in small_seen.collect()},
        HOST_BUDGET, canonicalize)
    for bad in checks.frontier_matches(got, want) or [None]:
        counter.check(bad is None, f"small N: {bad}")


def run(seed: int, seconds: float, trace: bool):
    counter = Counter()
    load0 = os.getloadavg()
    n_cores = cores()
    parts = 2 * n_cores
    n = N_FULL
    log_dir = out_dir("eventlog", f"frontier-{os.getpid()}") if trace else None
    t0 = time.monotonic()
    spark = make_spark(n_cores, event_log=log_dir)
    session_s = time.monotonic() - t0
    # input generation, repeated so setup_s carries its median
    gen_s = []
    for i in range(3):
        t = time.monotonic()
        fr, seen = load_inputs(spark, seed, n, parts)
        gen_s.append(time.monotonic() - t)
        if i < 2:
            fr.unpersist()
            seen.unpersist()
    t = time.monotonic()
    warm, kept = warm_up(spark, seed, fr, seen, parts)
    warm_s = time.monotonic() - t
    setup_s = session_s + median(gen_s) + warm_s

    rounds = timed_loop(fr, seen, parts, seconds, counter)
    walls = [r["wall"] for r in rounds]
    record = dict(env=environment(), conf=session_conf(spark), loadavg_start=load0,
                  n_urls=n, host_budget=HOST_BUDGET,
                  shares=dict(mega_host=inputs.SKEW_PCT, messy=inputs.MESSY_PCT,
                              seen=inputs.SEEN_PCT),
                  session_s=session_s, input_gen_s=gen_s, warmup_walls=warm,
                  rounds=rounds)
    if trace:
        layers = traced(spark, seed, fr, seen, parts, seconds, walls, counter, record)
    check(spark, seed, seen, parts, spark.read.parquet(kept), counter)
    shutil.rmtree(kept)
    record["loadavg_end"] = os.getloadavg()
    rss = peak_rss_mb()
    if trace:
        spark.stop()
        layers.update(layer_metrics_from_log(spans.EventLog.latest(log_dir), record))
        shutil.rmtree(log_dir)
        layers["frontier.scaling_eff_1to4"] = metric(
            scaling(seed, n, median(walls), n_cores, record), "ratio")
        metrics = layers
    else:
        spark.stop()
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "round_s": metric(median(walls), "s"),
            "round_cpu_s": metric(sum(r["cpu"] for r in rounds) / len(rounds), "s"),
            "peak_rss_mb": metric(rss, "MB"),
        }
    return counter, metrics, record


def traced(spark, seed, fr, seen, parts, seconds, untraced_walls, counter,
           record) -> dict:
    """Per-layer measurements: profiled rounds with spans and job groups,
    then each prelude stage timed on a persisted copy of the one before."""
    from ideacrawler_spark.operators.admission import admit_budget
    from ideacrawler_spark.operators.dedup import anti_join_seen, first_occurrence
    from ideacrawler_spark.operators.rank import global_rank
    from ideacrawler_spark.functions.urlnorm import canonicalize_udf

    sc = spark.sparkContext
    tracer = spans.Tracer()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    traced_rounds = []
    t_end = time.monotonic() + seconds
    while len(traced_rounds) < MIN_ROUNDS or time.monotonic() < t_end:
        i = len(traced_rounds)
        sc.setJobGroup(f"round:{i}", "traced prelude round")
        with tracer.span("round", i=i) as sp:
            track: list = []
            with tracer.span("plans.prelude.build"):
                ranked = prelude(fr, seen, parts, track)
            with tracer.span("plans.prelude.sink"):
                ranked.write.format("noop").mode("overwrite").save()
            for df in track:
                df.unpersist()
        traced_rounds.append(sp)
        counter.ok()
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    udf = spans.udf_seconds(spark)
    n_tr = len(traced_rounds)
    tr_walls = [s.dur for s in traced_rounds]
    cover = [sum(c.dur for c in tracer.children(s.sid)) / s.dur for s in traced_rounds]
    record["traced_rounds"] = [s.as_dict() for s in tracer.spans]

    # each stage on a persisted copy of the previous stage's output
    stage_s = {}

    def stage(name, df):
        sc.setJobGroup(f"stage:{name}", name)
        df = df.persist()
        t = time.monotonic()
        n_rows = df.count()
        stage_s[name] = time.monotonic() - t
        return df, n_rows

    canon, n_in = stage("canonicalize", fr.withColumn(
        "url_norm", canonicalize_udf()(F.col("url"))).select(
        "url_norm", "host", "depth", "seq"))
    firsts = first_occurrence(canon, key="url_norm", order_cols=("depth", "seq"))
    sc.setJobGroup("stage:dedup_firsts", "first_occurrence count")
    n_firsts = firsts.count()
    fresh, n_fresh = stage("dedup", anti_join_seen(
        firsts, seen, key="url_norm", partitioned=True))
    admitted, n_adm = stage("admission", admit_budget(
        fresh.withColumnRenamed("url_norm", "url"), F.lit(HOST_BUDGET), None,
        host_budget_max=HOST_BUDGET)[0])
    track: list = []
    sc.setJobGroup("stage:rank", "rank")
    t = time.monotonic()
    global_rank(admitted, ["depth", "seq"], out_col="fetch_seq",
                num_partitions=parts, persist_input=True, track=track) \
        .write.format("noop").mode("overwrite").save()
    stage_s["rank"] = time.monotonic() - t
    for df in [canon, fresh, admitted] + track:
        df.unpersist()
    sc.setJobGroup("bench", "bench")
    counter.ok()

    record["stage_rows"] = dict(input=n_in, firsts=n_firsts, fresh=n_fresh,
                                admitted=n_adm)
    m = {
        "urlnorm.canonicalize_us_per_url": canonicalize_cost(spark, seed),
        "frontier.urls_per_s": metric(N_FULL / median(untraced_walls), "URL/s"),
        "trace.overhead_ratio": metric(median(tr_walls) / median(untraced_walls), "ratio"),
        "trace.coverage": metric(median(cover), "ratio"),
        "round.plan_build_s": metric(median([
            c.dur for s in traced_rounds for c in tracer.children(s.sid)
            if c.name == "plans.prelude.build"]), "s"),
        "round.actions_s": metric(median([
            c.dur for s in traced_rounds for c in tracer.children(s.sid)
            if c.name == "plans.prelude.sink"]), "s"),
        "dedup.out_over_in": metric(n_fresh / n_in, "ratio"),
        "dedup.seen_hit_ratio": metric((n_firsts - n_fresh) / n_firsts, "ratio"),
        "admission.admit_ratio": metric(n_adm / n_fresh, "ratio"),
    }
    for name, secs in udf.items():
        m[f"udf.{name}_s"] = metric(secs / n_tr, "s")
    for name in ("canonicalize", "dedup", "admission", "rank"):
        m[f"frontier.{name}_s"] = metric(stage_s[name], "s")
    record["traced_n_rounds"] = n_tr
    return m


def canonicalize_cost(spark, seed: int) -> dict:
    """Driver-side ``canonicalize_series`` on a seeded URL sample."""
    from ideacrawler_spark.functions.urlnorm import canonicalize_series

    sample = inputs.frontier(spark, seed, N_CANON_SAMPLE, 1) \
        .select("url").toPandas()["url"]
    t = time.monotonic()
    canonicalize_series(sample)
    return metric((time.monotonic() - t) / len(sample) * 1e6, "us/URL")


def layer_metrics_from_log(ev: "spans.EventLog", record: dict) -> dict:
    n_tr = record["traced_n_rounds"]
    m = {}
    rounds = [j for i in range(n_tr) for j in ev.job_ids(group=f"round:{i}")]
    tot = ev.totals(rounds)
    m["round.jobs"] = metric(tot["jobs"] / n_tr, "count")
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                    ("gc_s", "s"), ("shuffle_write_bytes", "B"),
                    ("spill_bytes", "B")):
        m[f"spark.{k}"] = metric(tot[k] / n_tr, unit)
    groups = dict(canonicalize=["stage:canonicalize"],
                  dedup=["stage:dedup_firsts", "stage:dedup"],
                  admission=["stage:admission"], rank=["stage:rank"])
    for name, gs in groups.items():
        ids = [j for g in gs for j in ev.job_ids(group=g)]
        t = ev.totals(ids)
        m[f"{name}.shuffle_write_bytes"] = metric(t["shuffle_write_bytes"], "B")
        m[f"{name}.spill_bytes"] = metric(t["spill_bytes"], "B")
        m[f"{name}.task_s"] = metric(t["task_s"], "s")
    m["admission.max_over_median_rows"] = metric(
        ev.max_over_median_rows(ev.job_ids(group="stage:admission")), "ratio")
    record["spark_per_round"] = tot
    return m


def scaling(seed: int, n: int, wall_4: float, n_cores: int, record: dict) -> float:
    """Single-core baseline: one warm-up and one measured round at local[1].
    Efficiency = t1 / (cores * t_cores); diagnostic only."""
    spark = make_spark(1)
    try:
        fr, seen = load_inputs(spark, seed, n, 2)
        one_round(fr, seen, 2)
        wall_1 = one_round(fr, seen, 2)["wall"]
    finally:
        spark.stop()
    record["local1_round_s"] = wall_1
    return wall_1 / (n_cores * wall_4)
