"""Politeness admission — the batch analogue of fetchbot's per-host workers.

The reference routes each URL to a per-host goroutine that sleeps
``crawl_delay`` between fetches (fetch.go:269-454) under a job-global
MaxConcurrentRequests semaphore (doer.go:36-41). The deterministic batch
model: per round, each host admits its first ``host_budget`` pending URLs
in (depth, seq) order — FIFO within host, BFS across depths — and the
round admits at most ``global_budget`` URLs overall in the same order.

Scale notes (10^10 frontier):
- the per-host window shuffles by host — exactly the partitioning the rest
  of the round wants anyway (repartition by host-hash); skewed hosts are
  bounded because a host emits at most ``host_budget`` admitted rows, and
  the pending tail ("carried") is written back without further wide ops;
- the global cap must NOT be a single-partition ``Window.orderBy``:
  ``admit_topk`` does a distributed bucket-histogram cutoff instead —
  one small aggregate collected to the driver, then a filter; only the
  single boundary bucket needs a window.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ideacrawler_spark.operators.sqltext import Views

# Order key packing: depth is bounded (< 2^23), per-round seq < 2^40.
_SEQ_BITS = 40
_DEPTH_MAX = 1 << 23  # depth*2^40 must stay under 2^63
_BUCKET_BITS = 28  # bucket = key >> 28 → ~dozens of buckets at test scale


def order_key(depth_col, seq_col):
    """(depth, seq) → one sortable long: depth*2^40 + seq.

    Packing is only order-preserving while seq < 2^40 and depth < 2^23
    (else the long overflows); rows past the bound FAIL LOUDLY instead of
    silently mis-ordering (a 10^10-URL frontier assigns ~2^33 seqs per
    round — 2^40 is headroom, not a ceiling to ride). ``assert_true``
    evaluates NULL on success, so the coalesce adds 0 per row."""
    seq = seq_col.cast("long")
    depth = depth_col.cast("long")
    guard = F.assert_true(
        (seq >= 0) & (seq < F.lit(1 << _SEQ_BITS))
        & (depth >= 0) & (depth < F.lit(_DEPTH_MAX)),
        F.lit(f"order_key packing overflow: need 0 <= seq < 2^{_SEQ_BITS} "
              f"and 0 <= depth < 2^23"),
    )
    # guard rides on the multiply's LEFT operand so it evaluates before
    # the multiplication can hit Spark's own ANSI overflow error
    depth_checked = depth + F.coalesce(guard.cast("long"), F.lit(0))
    return depth_checked * F.lit(1 << _SEQ_BITS) + seq


def admit_budget(frontier: DataFrame, host_budget_col, global_budget=None,
                 salt: int = 16,
                 host_budget_max: int | None = None) -> Tuple[DataFrame, DataFrame]:
    """Split frontier into (admitted, carried) for one round.

    ``frontier`` must carry columns host, depth, seq; ``host_budget_col`` is
    a Column giving the per-row host budget (usually joined from robots
    crawl_delay via JobSpec.host_budget math).

    Skew handling (the 10^10-frontier requirement): a mega-host would
    funnel all its pending URLs through ONE window task. Instead, a salted
    two-phase top-k: phase 1 takes the per-(host, salt) top-budget —
    ``salt`` parallel slices per host — which provably contains the true
    per-host top-budget; phase 2 ranks only those ≤ salt×budget survivors.
    Exact same result as the unsalted window, bounded task size.

    ``host_budget_max``: a LITERAL upper bound on every row's budget
    (driver-computable: max over the robots dim of JobSpec.host_budget).
    When given, the rank filters gain a ``rn <= literal`` conjunct, which
    lets Catalyst insert WindowGroupLimit — a partial per-task top-k that
    replaces the full window SORT with a bounded heap BEFORE the
    exchange. Same rows out (the literal dominates every per-row budget);
    profiled at 16M rows this was the single largest cost of the round
    prelude.
    """
    fr = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt))
    ).withColumn("_hb", host_budget_col)
    with Views(fr.sparkSession) as v:
        admitted, carried = (v.sql(q) for q in budget_sql(
            v.add(fr, "admission_in"), host_budget_max))
    if global_budget is None:
        return admitted, carried  # no global cap → skip the topk scan
    admitted, overflow = admit_topk(admitted, global_budget)
    return admitted, carried.unionByName(overflow)


def salted_sql(src: str, host_budget: str, salt: int = 16) -> str:
    """The relation ``src`` plus :func:`admit_budget`'s ``_salt`` and
    ``_hb`` columns, ``host_budget`` being SQL text over ``src``."""
    return (f"(SELECT *, pmod(xxhash64(url), {int(salt)}) AS _salt, "
            f"{host_budget} AS _hb FROM {src})")


def budget_sql(fr: str, host_budget_max: int | None = None) -> Tuple[str, str]:
    """:func:`admit_budget`'s per-host windows over the relation ``fr``
    (:func:`salted_sql`): the admitted and the carried rows' SQL text, in
    ``fr``'s column order."""
    def cap(rn):
        if host_budget_max is None:
            return f"{rn} <= _hb"
        return f"{rn} <= {int(host_budget_max)} AND {rn} <= _hb"

    p1 = (f"(SELECT *, row_number() OVER (PARTITION BY host, _salt "
          f"ORDER BY depth, seq) AS _rn1 FROM {fr})")
    p2 = (f"(SELECT *, row_number() OVER (PARTITION BY host "
          f"ORDER BY depth, seq) AS _rn2 FROM "
          f"(SELECT * EXCEPT (_rn1) FROM {p1} WHERE {cap('_rn1')}))")
    admitted = f"SELECT * EXCEPT (_rn2, _salt, _hb) FROM {p2} WHERE {cap('_rn2')}"
    carried = (
        f"SELECT * EXCEPT (_rn1, _salt, _hb) FROM {p1} WHERE NOT ({cap('_rn1')}) "
        f"UNION ALL SELECT * EXCEPT (_rn2, _salt, _hb) FROM {p2} "
        f"WHERE NOT ({cap('_rn2')})")
    return admitted, carried


def admit_topk(df: DataFrame, k: int) -> Tuple[DataFrame, DataFrame]:
    """Exact first-k rows of ``df`` by (depth, seq) without a global window.

    Distributed cutoff: histogram rows per key-bucket (small aggregate →
    driver), find the boundary bucket by cumulative count, admit all rows in
    buckets strictly below it, and window-rank ONLY the boundary bucket.
    Returns (admitted, rest)."""
    df = df.withColumn("_okey", order_key(F.col("depth"), F.col("seq")))
    with Views(df.sparkSession) as v:
        keyed = v.add(v.sql(
            f"SELECT *, CAST(_okey / {1 << _BUCKET_BITS} AS BIGINT) AS _bkt "
            f"FROM {v.add(df, 'topk_in')}"), "topk_keyed")
        hist = v.sql(f"SELECT _bkt, count(*) AS count FROM {keyed} "
                     "GROUP BY _bkt ORDER BY _bkt").collect()
        rows = f"SELECT * EXCEPT (_okey, _bkt) FROM {keyed}"
        total = sum(r["count"] for r in hist)
        if total <= k:
            return v.sql(rows), v.sql(f"{rows} LIMIT 0")
        cum = 0
        boundary, below = None, 0
        for r in hist:
            if cum + r["count"] > k:
                boundary, below = r["_bkt"], cum
                break
            cum += r["count"]
        ranked = (f"(SELECT *, row_number() OVER (PARTITION BY _bkt "
                  f"ORDER BY _okey) AS _rn FROM {keyed} "
                  f"WHERE _bkt = {int(boundary)})")
        cut = int(k - below)
        return (
            v.sql(f"{rows} WHERE _bkt < {int(boundary)} UNION ALL "
                  f"SELECT * EXCEPT (_okey, _bkt, _rn) FROM {ranked} "
                  f"WHERE _rn <= {cut}"),
            v.sql(f"{rows} WHERE _bkt > {int(boundary)} UNION ALL "
                  f"SELECT * EXCEPT (_okey, _bkt, _rn) FROM {ranked} "
                  f"WHERE _rn > {cut}"),
        )
