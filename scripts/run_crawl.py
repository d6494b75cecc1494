"""spark-submit job entry (M6 packaging).

Usage (local sandbox):
    spark-submit --master local[32] \
        --py-files ideacrawler_spark.zip \
        scripts/run_crawl.py --spec job.json --pages pages_dir \
        [--robots robots_dir] [--pushes pushes.json] \
        --checkpoint ckpt_dir --out out_dir

On a cluster the same invocation runs unchanged with --master yarn/k8s;
the checkpoint/bloom directories must point at shared storage (the commit
protocol is rename-based — object stores with atomic rename or HDFS).

Build the zip:  python scripts/package.py  → dist/ideacrawler_spark.zip
"""

from __future__ import annotations

import argparse
import json
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True, help="JobSpec JSON file")
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--robots", help="robots parquet dir")
    ap.add_argument("--pushes", help="pushes JSON-lines file")
    ap.add_argument("--checkpoint", help="checkpoint dir (enables resume)")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--out", required=True, help="output dir")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ideacrawler_spark.config import JobSpec
    from ideacrawler_spark.plans.crawl import CrawlEngine

    # a round cycles through more generated classes than the default
    # 100-entry codegen cache holds (README, deployment); a static conf, so
    # it takes effect only in the session this builds
    spark = (SparkSession.builder.appName("ideacrawler-spark")
             .config("spark.sql.codegen.cache.maxEntries", "4000")
             .getOrCreate())
    nparts = args.shuffle_partitions or spark.sparkContext.defaultParallelism * 2
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))

    with open(args.spec) as f:
        spec = JobSpec(**json.load(f))
    pages = spark.read.parquet(args.pages)
    robots = spark.read.parquet(args.robots) if args.robots else None
    pushes = []
    if args.pushes:
        with open(args.pushes) as f:
            pushes = [json.loads(line) for line in f if line.strip()]

    eng = CrawlEngine(spark, spec, pages, robots, pushes,
                      checkpoint_dir=args.checkpoint,
                      shuffle_partitions=nparts)
    out = eng.run(resume=args.resume)
    for name in ("shipped", "order", "outlinks"):
        if out.get(name) is not None:
            out[name].write.mode("overwrite").parquet(f"{args.out}/{name}")
    out["seen"].write.mode("overwrite").parquet(f"{args.out}/seen")
    summary = dict(rounds=out["rounds"], metrics=out["metrics"])
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
