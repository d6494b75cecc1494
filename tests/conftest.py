import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ideacrawler-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # headroom for session-long suites: localCheckpointed round outputs
        # are non-evictable until their engines are garbage-collected
        .config("spark.driver.memory", "6g")
        # a crawl round cycles through more generated classes than the
        # default 100-entry codegen cache holds, and recompiles them all
        # every round (README, deployment)
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def web():
    from ideacrawler_spark.sources.fixtures import synth_web

    return synth_web(seed=42, scale=1)


@pytest.fixture(scope="session")
def web_dfs(spark, web):
    from ideacrawler_spark.sources.fixtures import PAGES_SCHEMA, ROBOTS_SCHEMA

    pages, robots, seeds, pushes = web
    pages_df = spark.createDataFrame(pages, PAGES_SCHEMA)
    robots_df = spark.createDataFrame(robots, ROBOTS_SCHEMA)
    return pages_df, robots_df, seeds, pushes
