"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Isolates the stages bench.py times so before/after numbers can be taken
per change without running the whole driver protocol:

  python bench_extra.py frontier [N] [CORES]   # headline pipeline, noop sink
  python bench_extra.py narrow  [N] [CORES]    # hash-narrow secondary
  python bench_extra.py micro q1 q2 ...        # noop-timed queries at sf0.1
  python bench_extra.py micro_sf SFDIR q1 ...  # same at another scale factor

Sessions use the same config as bench.py's make_spark. Every number is
printed as one JSON line per stage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import make_spark  # same session config as the frozen driver bench


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "frontier"
    if mode in ("frontier", "narrow"):
        from ideacrawler_spark.plans.bench_workload import (
            frontier_round,
            frontier_round_narrow,
        )

        fn = frontier_round if mode == "frontier" else frontier_round_narrow
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 16_000_000
        cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
        spark = make_spark(cores)
        spark.sparkContext.setLogLevel("ERROR")
        fn(spark, 500_000)  # warm codegen + python workers
        runs = []
        for _ in range(3):
            r = fn(spark, n)
            runs.append(round(r["seconds"], 3))
        print(json.dumps({
            "stage": mode, "n": n, "cores": cores, "runs": runs,
            "best_urls_per_sec": round(n / min(runs)),
            "loadavg": round(os.getloadavg()[0], 1),
        }))
        spark.stop()
    elif mode in ("micro", "micro_sf"):
        import __spark_entry__ as e

        if mode == "micro_sf":
            sf_dir = sys.argv[2]
            qs = sys.argv[3:]
        else:
            sf_dir = "/root/testdata/sf0.1"
            qs = sys.argv[2:]
        spark = make_spark(32)
        spark.sparkContext.setLogLevel("ERROR")
        qmap = e.queries()
        for q in qs:
            spark.sparkContext.setJobDescription(f"bench_extra:{q}")
            atts = []
            for _ in range(3):
                t0 = time.monotonic()
                qmap[q](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                atts.append(round(time.monotonic() - t0, 3))
            print(json.dumps({
                "stage": q, "sf": sf_dir, "runs": atts,
                "median": sorted(atts)[1],
                "loadavg": round(os.getloadavg()[0], 1),
            }))
        spark.stop()


if __name__ == "__main__":
    main()
