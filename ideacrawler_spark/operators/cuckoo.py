"""Sharded cuckoo-filter URL-seen state — the Bloom alternative.

Same contract as operators/bloom.py (update shards per round, probe as an
anti-join prefilter, false negatives impossible) with cuckoo semantics:
16-bit fingerprints in 4-slot buckets, two candidate buckets per key
(partial-key cuckoo hashing, Fan et al. 2014). Advantages over Bloom at
the same memory: higher lookup locality (2 buckets vs k probes) and
support for deletion (not needed by the crawler — the seen-set only
grows — but kept for parity with the paper).

Safety valve: if an insert exceeds the kick budget the shard sets an
``overflow`` flag and every lookup in that shard answers maybe-seen —
degrading to the exact anti-join, never to a false negative.

Layout per shard file (.npz): ``table`` uint16 (NB, 4), ``overflow``
uint8 scalar. All probes are vectorized numpy over Arrow batches.
"""

from __future__ import annotations

import io
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ideacrawler_spark.operators import shardfs

N_SHARDS = 64
N_BUCKETS = 1 << 16        # 65536 buckets × 4 slots × 2B = 512 KB/shard
SLOTS = 4
MAX_KICKS = 500
_FP_MULT = np.uint64(0x5BD1E995)


def _fingerprint(h: np.ndarray) -> np.ndarray:
    f = ((h.astype(np.uint64) >> np.uint64(20)) & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1  # 0 means empty slot
    return f


def _bucket1(h: np.ndarray) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(N_BUCKETS)).astype(np.int64)


def _alt_bucket(i: np.ndarray, f: np.ndarray) -> np.ndarray:
    mix = (f.astype(np.uint64) * _FP_MULT) % np.uint64(N_BUCKETS)
    return (i.astype(np.uint64) ^ mix) % np.uint64(N_BUCKETS)


def _shard_path(d: str, shard: int) -> str:
    return shardfs.join(d, f"cuckoo={shard:04d}.npz")


def _load(d: str, shard: int):
    raw = shardfs.read_bytes(_shard_path(d, shard))
    if raw is not None:
        z = np.load(io.BytesIO(raw))
        return z["table"].copy(), bool(z["overflow"])
    return np.zeros((N_BUCKETS, SLOTS), dtype=np.uint16), False


def _insert_one(table: np.ndarray, h: int) -> bool:
    """Insert one key; False ⇒ table overflow (caller sets the flag)."""
    f = int(_fingerprint(np.array([h]))[0])
    i1 = int(_bucket1(np.array([h]))[0])
    i2 = int(_alt_bucket(np.array([i1]), np.array([f], dtype=np.uint16))[0])
    for i in (i1, i2):
        row = table[i]
        if (row == f).any():
            return True          # already present
        empty = np.where(row == 0)[0]
        if len(empty):
            table[i, empty[0]] = f
            return True
    # evict deterministically: slot = kick % SLOTS (no RNG → reproducible)
    i, cur = i1, f
    for kick in range(MAX_KICKS):
        slot = kick % SLOTS
        cur, table[i, slot] = int(table[i, slot]), cur
        i = int(_alt_bucket(np.array([i]), np.array([cur], dtype=np.uint16))[0])
        row = table[i]
        empty = np.where(row == 0)[0]
        if len(empty):
            table[i, empty[0]] = cur
            return True
    return False


def update_shards(seen_new: DataFrame, prev_dir: str | None, out_dir: str,
                  hash_col: str = "key_hash", n_shards: int = N_SHARDS) -> None:
    shardfs.makedirs(out_dir)
    if prev_dir:
        for name in shardfs.listdir(prev_dir):
            if name.startswith("cuckoo=") and not name.endswith(".tmp"):
                dst = shardfs.join(out_dir, name)
                if not shardfs.exists(dst):
                    shardfs.copy_file(shardfs.join(prev_dir, name), dst)

    df = seen_new.select(F.col(hash_col).alias("h")).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame({"shard": [], "n": []})
        shard = int(pdf["shard"].iloc[0])
        table, overflow = _load(out_dir, shard)
        if not overflow:
            for h in pdf["h"].to_numpy():
                if not _insert_one(table, int(h)):
                    overflow = True
                    break
        buf = io.BytesIO()
        np.savez(buf, table=table, overflow=np.uint8(overflow))
        shardfs.write_bytes_atomic(_shard_path(out_dir, shard), buf.getvalue())
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    (
        df.repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(fold, schema="shard int, n long")
        .collect()
    )


def maybe_seen(candidates: DataFrame, cuckoo_dir: str,
               hash_col: str = "url_hash", n_shards: int = N_SHARDS) -> DataFrame:
    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, tuple] = {}
        for pdf in it:
            if not len(pdf):
                pdf["_maybe_seen"] = pd.Series([], dtype=bool)
                yield pdf
                continue
            h = pdf[hash_col].to_numpy()
            shards = (np.mod(h, n_shards) + n_shards) % n_shards
            out = np.zeros(len(pdf), dtype=bool)
            for s in np.unique(shards):
                if s not in cache:
                    cache[int(s)] = _load(cuckoo_dir, int(s))
                table, overflow = cache[int(s)]
                mask = shards == s
                if overflow:
                    out[mask] = True
                    continue
                hs = h[mask]
                f = _fingerprint(hs)
                i1 = _bucket1(hs)
                i2 = _alt_bucket(i1, f).astype(np.int64)
                hit = (table[i1] == f[:, None]).any(axis=1) | (
                    table[i2] == f[:, None]
                ).any(axis=1)
                out[mask] = hit
            pdf = pdf.copy()
            pdf["_maybe_seen"] = out
            yield pdf

    from pyspark.sql import types as T

    # fresh StructType: .add would mutate the candidate frame's schema
    schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )
    return candidates.repartition(
        n_shards, F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    ).mapInPandas(probe, schema=schema)

