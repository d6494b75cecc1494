"""Seeded inputs. The program only ever receives what these build.

The frontier follows ``plans/bench_workload.gen_frontier`` (one mega-host,
messy URL variants, a seen-set overlapping the frontier) with the seed
folded into every hash, so different seeds give different frontiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 997
MEGA_HOST = "bighost.example"
SKEW_PCT = 30    # % of URLs on the mega-host
MESSY_PCT = 25   # % of URLs in a form canonicalize must rewrite
SEEN_PCT = 20    # % of URLs already in the seen-set


def _h(seed: int, col, salt: int):
    """Seeded 64-bit hash of ``col``, non-negative mod 100."""
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(100))


def _host(seed: int):
    idc = F.col("id")
    return F.when(_h(seed, idc, 1) < SKEW_PCT, F.lit(MEGA_HOST)).otherwise(
        F.concat(F.lit("host"),
                 F.pmod(F.xxhash64(idc, F.lit(seed), F.lit(2)), F.lit(N_HOSTS))
                 .cast("string"),
                 F.lit(".example")))


def frontier(spark: SparkSession, seed: int, n: int, parts: int) -> DataFrame:
    """n candidate URLs: columns host, url, depth, seq (seq unique)."""
    idc = F.col("id")
    host = _host(seed)
    iid = idc.cast("string")
    clean = F.concat(F.lit("http://"), host, F.lit("/p/"), iid)
    v = _h(seed, idc, 3)
    messy = (
        F.when(v < 8, F.concat(F.lit("HTTP://"), F.upper(host), F.lit(":80/p/"), iid))
        .when(v < 16, F.concat(F.lit("http://"), host, F.lit("/p/"), iid, F.lit("?")))
        .otherwise(F.concat(F.lit("http://"), host, F.lit("/p/%34%32/"), iid))
    )
    url = F.when(v < MESSY_PCT, messy).otherwise(clean)
    return spark.range(0, n, 1, parts).select(
        host.alias("host"),
        url.alias("url"),
        F.pmod(idc + F.lit(seed), F.lit(6)).cast("int").alias("depth"),
        idc.alias("seq"),
    )


def seen(spark: SparkSession, seed: int, n: int, parts: int) -> DataFrame:
    """Seen-set holding the canonical form of ~SEEN_PCT of the frontier."""
    idc = F.col("id")
    return spark.range(0, n, 1, parts).filter(_h(seed, idc, 4) < SEEN_PCT).select(
        F.concat(F.lit("http://"), _host(seed), F.lit("/p/"),
                 idc.cast("string")).alias("key"))


def unseen_keys(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Keys no crawl of ``synth_web`` can reach, for Bloom false positives."""
    return spark.range(0, n).select(F.concat(
        F.lit(f"http://unseen{seed}.invalid/q/"), F.col("id").cast("string"))
        .alias("key"))
