"""Sharded Bloom-filter URL-seen state — Arrow-backed per-partition.

The reference's seen-set is one in-memory Go map guarded by a mutex
(job.duplicates, job.go:43,841-871) — at 10^10 URLs that is neither
memory-feasible nor parallel. Here:

- the seen-set's EXACT table stays authoritative (bit-for-bit guarantee);
- a Bloom filter sharded by ``url_hash % n_shards`` prefilters the
  anti-join once the seen-set is too large for a hash build
  (``plans/round.py`` gates it on Spark's own size rule; below that
  bound an exact hash anti-join beats any probe): rows the shard proves
  unseen skip the join entirely; only maybe-seen rows (true hits +
  false positives) take the exact path. False negatives are impossible,
  so results are identical with the filter on or off;
- shards are numpy bitsets persisted per round next to the engine
  checkpoint (parquet+manifest here; Iceberg snapshots in production).
  A round folds its new keys on the driver when they fit one Arrow batch
  (one JVM-only collect of their hashes, no Python task), else inside
  ``applyInPandas`` — each task touches exactly one shard file, the batch
  arrives as Arrow. Both paths run the same per-shard kernel, and the
  membership test is vectorized numpy over the whole batch (no per-row
  Python);
- ALL shard IO goes through ``operators/shardfs.py`` (pyarrow.fs), so a
  checkpoint dir on hdfs:// or s3:// works from executors without a
  shared local disk — the round-1 local-``os.path`` dependence is gone.

Bit addressing: k=7 indexes per key from the 64-bit xxhash via the
Kirsch-Mitzenmacher construction idx_i = (h1 + i*h2) mod m with
h1 = low 32 bits, h2 = high 32 bits | 1.
"""

from __future__ import annotations

import io
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ideacrawler_spark.operators import shardfs

N_SHARDS = 64
M_BITS = 1 << 22          # 4 Mbit/shard → 64 shards ≈ 32 MB; fpr ~1% at ~25M keys
K_HASHES = 7


def shard_of(hash_col, n_shards: int = N_SHARDS):
    return F.pmod(hash_col, F.lit(n_shards)).cast("int")


def _indexes(hashes: np.ndarray, m: int = M_BITS, k: int = K_HASHES) -> np.ndarray:
    """(n,) int64 hashes → (n, k) bit indexes."""
    h = hashes.astype(np.uint64)
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _fold(arr: np.ndarray, hashes: np.ndarray) -> None:
    """Set the bits of ``hashes`` in the shard bitset ``arr`` in place."""
    flat = _indexes(hashes).reshape(-1)
    np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _contains(arr: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Per hash: True if all its bits are set in ``arr`` (maybe seen)."""
    idx = _indexes(hashes)
    return ((arr[idx >> 3] >> (idx & 7)) & 1).all(axis=1)


def _shard_path(bloom_dir: str, shard: int) -> str:
    return shardfs.join(bloom_dir, f"shard={shard:04d}.npy")


def _load_shard(bloom_dir: str, shard: int) -> np.ndarray:
    raw = shardfs.read_bytes(_shard_path(bloom_dir, shard))
    if raw is not None:
        return np.load(io.BytesIO(raw))
    return np.zeros(M_BITS // 8, dtype=np.uint8)


def _save_shard(path: str, arr_bytes: bytes) -> None:
    shardfs.write_bytes_atomic(path, arr_bytes)


def _fold_shard(out_dir: str, shard: int, hashes: np.ndarray) -> None:
    """Fold ``hashes`` (all of one shard) into that shard's file."""
    arr = _load_shard(out_dir, shard)
    _fold(arr, hashes)
    buf = io.BytesIO()
    np.save(buf, arr)
    _save_shard(_shard_path(out_dir, shard), buf.getvalue())


def update_shards(seen_new: DataFrame, prev_dir: str | None, out_dir: str,
                  hash_col: str = "key_hash", n_shards: int = N_SHARDS,
                  n_keys: Optional[int] = None) -> None:
    """Fold new keys into the Bloom shards: read round r-1 shards, write
    round r shards (copy-forward untouched ones).

    ``out_dir`` is emptied first: a round re-run after a crash between its
    fold and its commit must fold into round r-1's shards, not into the
    ones the crashed attempt left there.

    ``n_keys`` bounds the rows of ``seen_new``. When they fit in one Arrow
    batch, their hashes are collected (a JVM-only job) and the touched
    shards are folded on the driver. Otherwise, or when the count is
    unknown, there is one applyInPandas group per shard — the task-local
    file IS the Arrow-backed partition state."""
    shardfs.reset_dir(out_dir)
    if prev_dir:
        for name in shardfs.listdir(prev_dir):
            if name.startswith("shard=") and not name.endswith(".tmp"):
                shardfs.copy_file(shardfs.join(prev_dir, name),
                                  shardfs.join(out_dir, name))
    batch = int(seen_new.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    if n_keys is not None and 0 < batch and n_keys <= batch:
        if n_keys == 0:
            return
        h = np.array([r[0] for r in seen_new.select(hash_col).collect()],
                     dtype=np.int64)
        shards = np.mod(h, n_shards)  # the sign of the divisor, like pmod
        for s in np.unique(shards):
            _fold_shard(out_dir, int(s), h[shards == s])
        return

    df = seen_new.select(F.col(hash_col).alias("h")).withColumn(
        "shard", shard_of(F.col("h"), n_shards)
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame({"shard": [], "n": []})
        shard = int(pdf["shard"].iloc[0])
        _fold_shard(out_dir, shard, pdf["h"].to_numpy())
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    (
        df.repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(fold, schema="shard int, n long")
        .collect()
    )


def maybe_seen(candidates: DataFrame, bloom_dir: str,
               hash_col: str = "url_hash", n_shards: int = N_SHARDS) -> DataFrame:
    """Add a ``_maybe_seen`` boolean: False ⇒ PROVABLY unseen (skip the
    exact anti-join), True ⇒ check exactly. Vectorized numpy membership
    per Arrow batch; each task reads only the shards its rows hash to."""
    cols = candidates.columns

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, np.ndarray] = {}
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
                    cache[int(s)] = _load_shard(bloom_dir, int(s))
                mask = shards == s
                out[mask] = _contains(cache[int(s)], h[mask])
            pdf = pdf.copy()
            pdf["_maybe_seen"] = out
            yield pdf

    # NB: StructType.add MUTATES the receiver — build a fresh schema so
    # probing the same DataFrame twice can't duplicate the column
    from pyspark.sql import types as T

    schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )
    # partition by shard so each task reads few shard files
    return candidates.repartition(
        n_shards, shard_of(F.col(hash_col), n_shards)
    ).mapInPandas(probe, schema=schema)

