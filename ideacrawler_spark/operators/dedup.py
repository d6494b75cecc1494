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

from ideacrawler_spark.operators.sqltext import Views, ident, quote


def first_occurrence(candidates: DataFrame, key: str = "url_norm",
                     order_cols=("parent_depth", "parent_seq", "link_pos")
                     ) -> DataFrame:
    """Keep the first in-round occurrence of each key in discovery order.

    Implemented as ``groupBy(key).agg(min_by(row, order))`` rather than a
    row_number window: hash aggregation instead of a sort, and Spark's
    partial aggregation acts as a map-side combiner — duplicate links are
    collapsed BEFORE the shuffle, which is the whole point at 10^10 links.
    The key is uniformly distributed (canonical URL), so no skew."""
    with Views(candidates.sparkSession) as v:
        return v.sql(first_occurrence_sql(
            v.add(candidates, "candidates"), candidates.columns, key,
            order_cols))


def first_occurrence_sql(src: str, columns, key: str = "url_norm",
                         order_cols=("parent_depth", "parent_seq", "link_pos")
                         ) -> str:
    """:func:`first_occurrence` over the relation ``src`` (a view name or
    a parenthesized query) with columns ``columns``."""
    others = [c for c in columns if c != key]
    k = ident(key)
    return (f"SELECT {k}, "
            + ", ".join(f"_row.{ident(c)} AS {ident(c)}" for c in others)
            + f" FROM (SELECT {k}, min_by({_struct(others)}, "
            f"{_struct(order_cols)}) AS _row FROM {src} GROUP BY {k})")


def _struct(cols) -> str:
    return "named_struct(" + ", ".join(
        f"{quote(c)}, {ident(c)}" for c in cols) + ")"


def seen_row_bytes(key: str) -> int:
    """Bytes of one seen row in a hash build: the UnsafeRow of one string
    column is an 8-byte null bitset, an 8-byte offset-and-length word and
    the UTF-8 bytes padded to a multiple of 8."""
    return 16 + 8 * -(-len(key.encode("utf-8")) // 8)


def seen_row_bytes_col(key):
    """:func:`seen_row_bytes` as a Column over the string Column ``key``."""
    return F.lit(16) + F.lit(8) * F.ceil(F.octet_length(key) / F.lit(8))


def seen_row_bytes_sql(key: str) -> str:
    """:func:`seen_row_bytes_col` as SQL text over the column ``key``."""
    return f"16 + 8 * ceil(octet_length({key}) / 8)"


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
    with Views(candidates.sparkSession) as v:
        return v.sql(anti_join_seen_sql(
            v.add(candidates, "candidates"), v.add(seen, "seen"), key,
            seen_key, partitioned))


def anti_join_seen_sql(src: str, seen: str, key: str = "url_norm",
                       seen_key: str = "key",
                       partitioned: bool = False) -> str:
    """:func:`anti_join_seen` of the relation ``src`` against the relation
    ``seen``."""
    k, sk = ident(key), ident(seen_key)
    if partitioned:
        return (f"SELECT /*+ SHUFFLE_HASH(s) */ * FROM {src} c LEFT ANTI JOIN "
                f"(SELECT {sk} AS {k} FROM {seen}) s USING ({k})")
    return (f"SELECT c.* FROM {src} c LEFT ANTI JOIN "
            f"(SELECT xxhash64({sk}) AS __seen_hash, {sk} AS __seen_key "
            f"FROM {seen}) s ON xxhash64(c.{k}) = s.__seen_hash "
            f"AND c.{k} = s.__seen_key")


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
    with Views(flagged.sparkSession) as v:
        flagged, seen = v.add(flagged, "flagged"), v.add(seen, "seen")
        # both branches keep flagged's column order: a union by name
        rows = f"SELECT * EXCEPT (_maybe_seen, url_hash) FROM {flagged} WHERE"
        return v.sql(f"{rows} NOT _maybe_seen UNION ALL " + anti_join_seen_sql(
            f"({rows} _maybe_seen)", seen, key, seen_key))
