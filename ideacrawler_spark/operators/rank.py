"""Scalable deterministic global rank — dense sequence numbers without a
single-partition window.

The engine needs dense, deterministic discovery sequence numbers
(the batch analogue of the reference's per-job enqueue counter,
job.go:846-869). ``Window.orderBy(...)`` with no partition key funnels
every row through ONE task — fatal at 10^10 rows. Instead:

1. ``repartitionByRange`` on the order key (range partitioner → globally
   ordered partitions) over a PERSISTED input: the range partitioner's
   sampling job and the shuffle itself would otherwise each recompute the
   caller's (typically UDF-heavy) upstream lineage — profiled on the 16M
   bench frontier this double-computed the whole canonicalize→dedup→
   admission pipeline (guide §1.2: fix the distributed algorithm first);
2. ``sortWithinPartitions`` + ``monotonically_increasing_id`` to number
   rows within each physical partition: the id packs
   (partition_id << 33) | local_row_index, so pid/rn are recovered with
   two bit ops and NO ``Window.partitionBy(spark_partition_id())`` —
   the window's ClusteredDistribution requirement inserted a full extra
   Exchange+Sort of the ranked data (Spark cannot know the data is
   already partitioned by its own partition id);
3. per-partition counts (tiny aggregate, ≤ num_partitions rows) →
   cumulative offsets via a window over THAT tiny frame →
   broadcast-joined back.

Step 3 is fully lazy — no ``collect()``: the offsets live in a
num_partitions-row DataFrame whose single-partition window is over
partition COUNTS, not data rows, so the driver never blocks mid-plan
(round 1 paid two driver-blocking rank collects per crawl round).

The resulting rank is independent of the sampled range boundaries because
the order key is strictly unique, so the output is deterministic across
runs and parallelism levels. The per-partition numbering is deterministic
too: ids are assigned in the order of the explicit sortWithinPartitions,
so a recomputed (cache-evicted, retried) partition reproduces the same
ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ideacrawler_spark.operators.sqltext import Views, ident


SMALL_RANK_ROWS = 131072  # single-task sort is cheaper below this


def global_rank(df: DataFrame, order_cols, out_col: str = "rank",
                offset: int = 0, num_partitions: int | None = None,
                track: list | None = None,
                small_hint: int | None = None,
                persist_input: bool = False) -> DataFrame:
    """Add ``out_col`` = offset + dense 0-based rank of the row in the total
    order given by ``order_cols`` (must be a strict total order).

    ``track``: optional list the internal persisted frames are appended
    to, for the caller to release once it has read the result (a crawl
    round passes its ``Views.persisted``); otherwise the cache pins memory
    for the session.

    ``persist_input``: opt-in cache of the input before the range shuffle
    so the boundary-sampling job does not recompute an expensive,
    un-cached upstream (see inline note).

    ``small_hint``: a caller-KNOWN upper bound on the row count (e.g. the
    round's admission budget); an exact count of the input (e.g. the
    crawl round's counters row for the rows it enqueues) is a proven
    bound too. When it proves the input fits in one task
    (:func:`one_task_rank`), rank via a single-exchange window instead —
    ``repartitionByRange`` costs a range-SAMPLING job plus a shuffle,
    pure overhead for small-bounded rounds, and the single partition does
    not strangle downstream parallelism because the next operator is a
    broadcast join whose output follows the big side's partitioning. At
    the 10^10-URL target the budget bound exceeds the threshold and the
    scalable path runs unchanged; this is an adaptive switch on a proven
    bound, never a guess from sampled stats."""
    with Views(df.sparkSession) as v:
        if one_task_rank(small_hint):
            return v.sql(window_rank_sql(v.add(df, "rank_in"), order_cols,
                                         out_col, offset))
        # persist_input: the range partitioner's boundary-sampling job
        # executes the child once and the shuffle executes it again — for
        # a caller whose upstream is UDF-heavy AND un-cached (the bench
        # frontier pipeline) that doubles the whole pipeline, so such
        # callers opt in. For cheap or already-cached upstreams (a parquet
        # projection, a round's persisted mid-frames) the extra
        # materialization costs more than the re-run.
        if persist_input:
            df = df.persist()
            if track is not None:
                track.append(df)
        cols = ", ".join(ident(c) for c in order_cols)
        n = f"{int(num_partitions)}, " if num_partitions else ""
        # number rows inside each range partition WITHOUT a window: the id
        # is (pid << 33) | row_index in the SORT BY order, so the split
        # below is exact and no Exchange(_pid)+Sort is ever planned.
        # Persisted: the offsets subquery and the caller's action would
        # otherwise both recompute the range shuffle.
        ranked = v.sql(
            "SELECT * EXCEPT (_mid), "
            "CAST(shiftrightunsigned(_mid, 33) AS INT) AS _pid, "
            f"CAST(_mid % {1 << 33} + 1 AS INT) AS _rn "
            "FROM (SELECT *, monotonically_increasing_id() AS _mid FROM "
            f"(SELECT /*+ REPARTITION_BY_RANGE({n}{cols}) */ * "
            f"FROM {v.add(df, 'rank_in')} SORT BY {cols}))")
        # named before it is persisted, so by its lineage: the join below
        # reads it twice, and Spark 4.1 cannot canonicalize a cached
        # relation joined with itself when its plan is sorted
        # (InMemoryRelation.newInstance keeps the old output ordering)
        r = v.add(ranked, "ranked")
        ranked.persist()
        if track is not None:
            track.append(ranked)
        # single-partition window over ≤num_partitions COUNT rows (not data)
        return v.sql(
            f"SELECT /*+ BROADCAST(o) */ r.* EXCEPT (_pid, _rn), "
            f"o._off + r._rn - 1 AS {ident(out_col)} FROM {r} r JOIN "
            "(SELECT _pid, coalesce(sum(_n) OVER (ORDER BY _pid ROWS BETWEEN "
            f"UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + {int(offset)} AS _off "
            f"FROM (SELECT _pid, count(*) AS _n FROM {r} GROUP BY _pid)) o "
            "USING (_pid)")


def one_task_rank(small_hint: int | None) -> bool:
    """Whether a proven row bound lets :func:`global_rank` take the
    single-task window."""
    return small_hint is not None and small_hint <= SMALL_RANK_ROWS


def window_rank_sql(src: str, order_cols, out_col: str, offset: int) -> str:
    """:func:`global_rank`'s single-task window over the relation ``src``."""
    cols = ", ".join(ident(c) for c in order_cols)
    return (f"SELECT *, CAST(row_number() OVER (ORDER BY {cols}) - 1 "
            f"+ {int(offset)} AS BIGINT) AS {ident(out_col)} FROM {src}")
