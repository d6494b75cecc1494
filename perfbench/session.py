"""Spark session, run environment and result helpers shared by the workloads.

Everything the benchmark writes (Spark scratch, event logs, checkpoints,
result records) goes under ``<checkout>/.perfbench/`` so a run reads and
writes only inside its checkout.
"""

from __future__ import annotations

import atexit
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# Driver heap for a 4-core, 15 GB host: the inputs are a few hundred MB at
# most, and the JVM's off-heap plus the Python workers need the rest. The
# heap starts at its full size: grown on demand, its size (and with it GC
# time, round time and RSS) differed from run to run.
DRIVER_MEMORY = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def out_dir(*parts: str) -> str:
    path = os.path.join(OUT, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def fresh_dir(*parts: str) -> str:
    path = os.path.join(OUT, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def make_spark(n_cores: int, event_log: Optional[str] = None):
    """A local session with one core per CPU this process may use.

    ``PYTHONPATH`` is exported before the JVM starts, so the Python workers
    it forks can import ``ideacrawler_spark`` from the checkout."""
    tmp = out_dir("tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", out_dir("warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * n_cores))
        # AQE off, as in bench.py: it runs query stages one at a time, which
        # serializes the many small fixed-shape jobs of a round
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
    )
    # set either way: a later session in the same JVM inherits the conf of
    # the first, event log dir included
    b = b.config("spark.eventLog.enabled", "true" if event_log else "false")
    if event_log:
        b = (b.config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", event_log))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # one JVM serves every session of the process (the program caches
    # Column trees that belong to it); it ends when the process does
    atexit.unregister(_end_jvm)
    atexit.register(_end_jvm)
    return spark


def _end_jvm() -> None:
    """End the JVM the sessions ran in and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of input
    gateway.proc.wait(timeout=60)


def session_conf(spark) -> Dict[str, str]:
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.ui.showConsoleProgress",
            "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.eventLog.enabled", "spark.executorEnv.PYTHONPATH")
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in keep}
    out["spark.sql.adaptive.enabled"] = spark.conf.get("spark.sql.adaptive.enabled")
    return out


def git_sha() -> Optional[str]:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def environment() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return dict(
        git_sha=git_sha(),
        nproc=os.cpu_count(),
        cores_available=cores(),
        python=platform.python_version(),
        spark=pyspark.__version__,
        pyarrow=pyarrow.__version__,
        pandas=pandas.__version__,
    )


def _proc_status(pid: int, field: str) -> int:
    """A ``kB`` field of /proc/<pid>/status in bytes, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python driver plus its JVM, in MB.

    The two peaks are summed; they need not have coincided, so this is an
    upper bound on the simultaneous peak."""
    me = os.getpid()
    total = _proc_status(me, "VmHWM")
    total += sum(_proc_status(p, "VmHWM") for p in _descendants(me)
                 if _comm(p) == "java")
    return total / 2 ** 20


_CLK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and every descendant: the
    JVM, the Python workers, and children they have already reaped."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def median(xs: List[float]) -> float:
    return statistics.median(xs)


class Counter:
    """Attempted / failed operations, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: List[str] = []

    def ok(self):
        self.attempted += 1

    def fail(self, reason: str):
        self.attempted += 1
        self.failures.append(reason)

    def check(self, cond: bool, reason: str):
        if cond:
            self.ok()
        else:
            self.fail(reason)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(workload: str, seed: int, trace: bool, counter: Counter,
         metrics: Dict[str, dict], record: dict) -> int:
    """Write the full record to .perfbench/results/ and print the one-line
    result; returns the process exit code."""
    record = dict(
        record, workload=workload, seed=seed, trace=trace,
        argv=sys.argv, attempted=counter.attempted,
        failed=len(counter.failures), failures=counter.failures,
        failed_ratio=len(counter.failures) / max(counter.attempted, 1),
        metrics=metrics, finished_unix=time.time(),
    )
    path = os.path.join(out_dir("results"),
                        f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"record: {os.path.relpath(path, ROOT)}")
    for reason in counter.failures:
        print(f"FAILED: {reason}")
    correct = not counter.failures and counter.attempted > 0
    print(json.dumps(dict(correct=correct, attempted=counter.attempted,
                          failed=len(counter.failures), metrics=metrics)))
    return 0 if correct else 1
