"""Benchmark entry point.

    python3 perfbench/run.py --workload frontier-skewed --seed 1 --seconds 6 --trace 0

With ``--trace 0`` the last stdout line carries every end-to-end metric of
BENCHMARK.json; with ``--trace 1`` every per-layer metric. A per-layer
metric of a layer the workload does not run is reported as 0. The full
record (environment, session conf, loadavg, every round) is written under
``.perfbench/results/``. The exit code is non-zero when any output check
fails or the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("frontier-skewed", "crawl-durable")

# per-layer metrics of layers a workload does not run
_FRONTIER_STAGES = ("canonicalize", "dedup", "admission", "rank")
NOT_RUN = {
    "frontier-skewed": lambda name: name.split(".")[0] in ("bloom", "catalog", "crawl"),
    "crawl-durable": lambda name: (
        name.startswith("frontier.") or name.startswith("dedup.")
        or (name.split(".")[0] in _FRONTIER_STAGES
            and name.split(".", 1)[1] in ("shuffle_write_bytes", "spill_bytes", "task_s"))),
}


def declared(trace: bool) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def complete(workload: str, metrics: dict, trace: bool, counter) -> dict:
    """Exactly the declared metrics: zero for layers the workload does not
    run, a counted failure for any other metric that was not measured."""
    from perfbench.session import metric

    out = {}
    for name, unit in declared(trace).items():
        if name in metrics:
            if metrics[name]["unit"] != unit:
                counter.fail(f"metric {name} measured in {metrics[name]['unit']}, "
                             f"declared in {unit}")
            out[name] = metrics[name]
        elif trace and NOT_RUN[workload](name):
            out[name] = metric(0.0, unit)
        else:
            counter.fail(f"metric {name} was not measured")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import ideacrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.session import emit

    trace = bool(args.trace)
    if args.workload == "frontier-skewed":
        from perfbench.frontier import run
    else:
        from perfbench.crawl import run
    counter, metrics, record = run(args.seed, args.seconds, trace)
    record["unreported"] = {k: v for k, v in metrics.items()
                            if k not in declared(trace)}
    metrics = complete(args.workload, metrics, trace, counter)
    return emit(args.workload, args.seed, trace, counter, metrics, record)


if __name__ == "__main__":
    sys.exit(main())
