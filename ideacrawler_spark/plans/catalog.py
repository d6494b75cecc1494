"""The round-commit catalog seam — swap parquet+manifest for Iceberg.

The crawl engine's durability contract is exactly Iceberg's snapshot
model: per round, every output table is written, then ONE atomic commit
makes the round visible; readers only ever see committed rounds; resume
restores the latest committed snapshot. ``ParquetManifestCatalog``
implements that protocol over plain parquet directories with a
``_COMMIT.json`` manifest rename as the visibility point — the only
mechanism available in this sandbox (no Iceberg catalog service).

Mapping to a real Iceberg catalog (the production cutover, one class):

| seam call              | parquet impl (here)               | Iceberg impl                                   |
|------------------------|-----------------------------------|------------------------------------------------|
| write(df, rnd, table)  | parquet to round=<r>/<table>/     | append to table partitioned by round           |
| commit(rnd, manifest)  | atomic rename of _COMMIT.json     | snapshot commit (manifest as snapshot summary) |
| last_committed()       | scan round dirs for manifests     | current snapshot's max committed round         |
| read(rnd, table)       | read round=<r>/<table>/           | snapshot read with round = <r> predicate       |
| has_table(rnd, table)  | directory existence               | partition existence in snapshot metadata       |
| aux_path(name)         | <root>/<name> directory           | object-store prefix next to the table          |

The engine never touches the filesystem for round state except through
this interface (Bloom shard files go through ``aux_path``/
``round_path`` + operators/shardfs.py, which already speaks pyarrow.fs
URIs — hdfs:// and s3:// included), so the crawl/commit/resume tests run
unchanged against either implementation.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ParquetManifestCatalog:
    """Iceberg-snapshot-protocol stand-in over parquet + JSON manifests.

    ``schemas`` maps table names to the schema their writer declares;
    ``read``/``read_aux`` use it, where a plain read starts one job per
    table to infer the schema from the footers."""

    def __init__(self, spark: SparkSession, root: str,
                 schemas: Optional[Dict[str, T.StructType]] = None):
        self.spark = spark
        self.root = root
        self.schemas = dict(schemas or {})

    # ---- paths ----------------------------------------------------------
    def round_path(self, rnd: int, table: str) -> str:
        return os.path.join(self.root, f"round={rnd}", table)

    def aux_path(self, name: str) -> str:
        """Non-round auxiliary state (seen_init, bloom_init shard dirs)."""
        return os.path.join(self.root, name)

    # ---- tables ---------------------------------------------------------
    def write(self, df: DataFrame, rnd: int, table: str) -> DataFrame:
        """Write a round output; return the re-read (lineage-cut) frame."""
        return self._write(df, self.round_path(rnd, table))

    def write_aux(self, df: DataFrame, name: str) -> DataFrame:
        return self._write(df, self.aux_path(name))

    def _write(self, df: DataFrame, path: str) -> DataFrame:
        df.write.mode("overwrite").parquet(path)
        # the schema just written: a plain read would start a job to infer
        # it from the footers (file reads make every field nullable either
        # way, so the result is the same)
        return self.spark.read.schema(df.schema).parquet(path)

    def read(self, rnd: int, table: str) -> DataFrame:
        return self._read(table, self.round_path(rnd, table))

    def read_aux(self, name: str) -> DataFrame:
        return self._read(name, self.aux_path(name))

    def _read(self, table: str, path: str) -> DataFrame:
        schema = self.schemas.get(table)
        if schema is None:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def has_table(self, rnd: int, table: str) -> bool:
        return os.path.isdir(self.round_path(rnd, table))

    # ---- commits --------------------------------------------------------
    def commit(self, rnd: int, manifest: dict) -> None:
        """Make round ``rnd`` visible — atomic rename is the commit point."""
        tmp = os.path.join(self.root, f"round={rnd}", "_COMMIT.json.tmp")
        final = os.path.join(self.root, f"round={rnd}", "_COMMIT.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)

    def is_committed(self, rnd: int) -> bool:
        return os.path.exists(
            os.path.join(self.root, f"round={rnd}", "_COMMIT.json"))

    def manifest(self, rnd: int) -> Optional[dict]:
        p = os.path.join(self.root, f"round={rnd}", "_COMMIT.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def expire(self, before_round: int) -> list:
        """The expire-snapshots analogue (VERDICT r03 #6): delete round
        state SUPERSEDED by the committed round ``before_round`` —

        - per-round ``bloom`` shard dirs and ``frontier_next`` older than
          ``before_round`` (resume only ever reads the latest committed
          round's copies);
        - ``seen_delta``/older ``seen_full`` tables covered by a
          ``seen_full`` compaction at ``before_round`` (resume rebuilds
          the seen-set as latest full + later deltas).

        Result tables (shipped/order/outlinks), lineage (part_metrics)
        and commit manifests are NEVER touched, so committed rounds stay
        readable and resume-from-latest is unaffected. No-op unless
        ``before_round`` is committed. Returns the deleted paths."""
        import shutil

        removed: list = []
        if not self.is_committed(before_round):
            return removed
        have_full = self.has_table(before_round, "seen_full")
        have_bloom = self.has_table(before_round, "bloom")
        for name in os.listdir(self.root):
            if not name.startswith("round="):
                continue
            i = int(name.split("=", 1)[1])
            doomed = []
            if i < before_round:
                doomed.append("frontier_next")
                if have_bloom:
                    doomed.append("bloom")
                if have_full:
                    doomed += ["seen_delta", "seen_full"]
            elif i == before_round and have_full:
                doomed.append("seen_delta")
            for t in doomed:
                p = self.round_path(i, t)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                    removed.append(p)
        return removed

    def snapshots(self) -> list:
        """The snapshot log: committed rounds ascending, each with its
        manifest — the Iceberg ``snapshots`` metadata-table analogue."""
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in os.listdir(self.root):
            if not name.startswith("round="):
                continue
            i = int(name.split("=", 1)[1])
            m = self.manifest(i)
            if m is not None:
                out.append({"round": i, "manifest": m})
        return sorted(out, key=lambda s: s["round"])

    def rollback(self, to_round: int) -> list:
        """Iceberg rollback-to-snapshot analogue: make ``to_round`` the
        current snapshot by deleting every LATER round directory
        (committed or not); the next ``resume()`` then continues from
        ``to_round`` exactly as if the later rounds never ran.

        Refuses (ValueError) unless the target is resumable:
        ``frontier_next`` present at the target, and the seen-set rebuild
        chain intact — the latest committed ``seen_full`` at jf <=
        to_round plus a ``seen_delta`` for every committed round in
        (jf, to_round]. Rolling back past an ``expire()`` horizon would
        otherwise resume with a silently incomplete seen set, which is
        exactly the corruption a catalog must make impossible.

        ``to_round=-1`` resets the catalog to empty (fresh job). Returns
        the deleted paths."""
        import shutil

        if to_round >= 0:
            if not self.is_committed(to_round):
                raise ValueError(
                    f"rollback target round {to_round} is not committed")
            if not self.has_table(to_round, "frontier_next"):
                raise ValueError(
                    f"round {to_round} has no frontier_next "
                    "(expired) — not resumable")
            jf = -1
            for i in range(to_round, -1, -1):
                if self.is_committed(i) and self.has_table(i, "seen_full"):
                    jf = i
                    break
            for i in range(jf + 1, to_round + 1):
                if self.is_committed(i) and not self.has_table(i, "seen_delta"):
                    raise ValueError(
                        f"seen_delta for round {i} is gone (expired) — "
                        f"seen-set not reconstructible at round {to_round}")
        removed: list = []
        if not os.path.isdir(self.root):
            return removed
        for name in os.listdir(self.root):
            if not name.startswith("round="):
                continue
            i = int(name.split("=", 1)[1])
            if i > to_round:
                p = os.path.join(self.root, name)
                shutil.rmtree(p)
                removed.append(p)
        return removed

    def last_committed(self) -> int:
        """Highest committed round, or -1."""
        if not os.path.isdir(self.root):
            return -1
        best = -1
        for name in os.listdir(self.root):
            if name.startswith("round="):
                r = int(name.split("=", 1)[1])
                if self.is_committed(r):
                    best = max(best, r)
        return best
