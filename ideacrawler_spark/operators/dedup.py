"""URL-seen dedup — the ``job.duplicates`` map as DataFrame set algebra.

Reference: ``if !j.duplicates[nurl] { enqueue; duplicates[nurl]=true }``
under the job mutex (job.go:841-871) — sequential, first-discovery-wins.
Batch equivalents:

- WITHIN a round: first occurrence per url_norm in deterministic discovery
  order (parent_depth, parent_seq, link_pos) via a window — realizes the
  mutex's first-writer-wins without any sequential section;
- ACROSS rounds: left-anti join against the exact ``seen`` table
  (key = the exact string the reference would have used: nurl for links,
  the raw seed string for seeds — job.go:776 inserts the seed unnormalized);
- a seen-set too large for a hash build is prefiltered by sharded Bloom
  filters (operators/bloom.py): definitely-new rows skip the join
  entirely, the exact table stays authoritative so the seen-set remains
  bit-for-bit. Below that bound the exact hash anti-join is cheaper than
  any probe; :func:`seen_row_bytes` sizes the seen-set for the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_occurrence(candidates: DataFrame, key: str = "url_norm",
                     order_cols=("parent_depth", "parent_seq", "link_pos")
                     ) -> DataFrame:
    """Keep the first in-round occurrence of each key in discovery order.

    Implemented as ``groupBy(key).agg(min_by(row, order))`` rather than a
    row_number window: hash aggregation instead of a sort, and Spark's
    partial aggregation acts as a map-side combiner — duplicate links are
    collapsed BEFORE the shuffle, which is the whole point at 10^10 links.
    The key is uniformly distributed (canonical URL), so no skew."""
    others = [c for c in candidates.columns if c != key]
    order = F.struct(*[F.col(c) for c in order_cols])
    row = F.min_by(F.struct(*[F.col(c) for c in others]), order)
    return (
        candidates.groupBy(key)
        .agg(row.alias("_row"))
        .select(F.col(key), *[F.col(f"_row.{c}").alias(c) for c in others])
    )


def seen_row_bytes(key: str) -> int:
    """Bytes of one seen row in a hash build: the UnsafeRow of one string
    column is an 8-byte null bitset, an 8-byte offset-and-length word and
    the UTF-8 bytes padded to a multiple of 8."""
    return 16 + 8 * -(-len(key.encode("utf-8")) // 8)


def seen_row_bytes_col(key):
    """:func:`seen_row_bytes` as a Column over the string Column ``key``."""
    return F.lit(16) + F.lit(8) * F.ceil(F.octet_length(key) / F.lit(8))


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key: str = "url_norm", seen_key: str = "key",
                   partitioned: bool = False) -> DataFrame:
    """Drop candidates whose key is already in the seen table.

    Default path: the join key leads with the 64-bit xxhash of the string —
    the shuffle hashes/sorts 8-byte longs and the string equality only runs
    on hash ties, so almost every comparison short-circuits. The exact
    string stays in the condition — results are bit-for-bit (hash
    collisions fall back to the string compare).

    ``partitioned=True``: the caller promises ``candidates`` comes straight
    out of an aggregation keyed on ``key`` (the engine's round order always
    runs :func:`first_occurrence` first), i.e. it is ALREADY hash-
    partitioned by ``key``. The join then uses the raw key so Spark reuses
    that exchange instead of re-shuffling every candidate row on the
    hash-led composite, and the seen side carries a SHUFFLE_HASH hint: a
    hash anti-probe needs no sort on either side (the hash-led key only
    paid off by making sort-merge compares cheap). ShuffledHashJoin's
    build side does not spill, so the caller must bound the per-partition
    build side |seen| / shuffle-partitions: the crawl round passes
    ``partitioned=True`` only while the seen-set's hash-build bytes
    (:func:`seen_row_bytes`) pass Spark's ``canBuildLocalHashMapBySize``
    rule. Above it a checkpointed crawl prefilters through the Bloom
    shards (operators/bloom.py, :func:`prefiltered_anti_join`), so the
    exact join only sees the maybe-seen remainder, and an in-memory crawl
    takes the default sort-merge path, which spills."""
    if partitioned:
        s = seen.select(F.col(seen_key).alias(key)).hint("SHUFFLE_HASH")
        return candidates.join(s, on=[key], how="left_anti")
    s = seen.select(
        F.xxhash64(F.col(seen_key)).alias("__seen_hash"),
        F.col(seen_key).alias("__seen_key"),
    )
    return candidates.join(
        s,
        on=(F.xxhash64(F.col(key)) == F.col("__seen_hash"))
        & (F.col(key) == F.col("__seen_key")),
        how="left_anti",
    )


def prefiltered_anti_join(flagged: DataFrame, seen: DataFrame,
                          key: str = "url_norm",
                          seen_key: str = "key") -> DataFrame:
    """:func:`anti_join_seen` behind the Bloom seen-set probe
    (``bloom.maybe_seen``). ``flagged`` is the candidates plus the probe's
    ``url_hash`` and ``_maybe_seen`` columns: provably-unseen rows bypass
    the join, maybe-seen rows (true hits and false positives) take the
    exact path, so the result equals the plain anti-join.

    Both branches read ``flagged``: persist it, or each re-runs the
    Python probe over every candidate."""
    fresh = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen", "url_hash")
    to_check = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen", "url_hash")
    return fresh.unionByName(
        anti_join_seen(to_check, seen, key=key, seen_key=seen_key))
