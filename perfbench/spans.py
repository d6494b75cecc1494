"""In-memory spans, layer wrappers, and offline readers for the Spark event
log and PySpark's UDF profiler.

Spans are recorded from outside the program: the traced run replaces the
public functions the crawl engine calls with timing wrappers and restores
them afterwards. Nothing inside ``ideacrawler_spark`` is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional, Tuple


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "attrs")

    def __init__(self, sid: int, name: str, start: float, parent: Optional[int],
                 attrs: dict):
        self.sid, self.name, self.start, self.parent = sid, name, start, parent
        self.end = start
        self.attrs = attrs

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return dict(id=self.sid, name=self.name, start=self.start, end=self.end,
                    parent=self.parent, **self.attrs)


def union_length(intervals: List[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder. A span opened on a thread with no open span (the
    engine's action threads) takes the innermost span open on the main
    thread as its parent, since those threads do not inherit context."""

    def __init__(self):
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: List[int] = []

    def _stack(self) -> List[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.monotonic(), parent, attrs)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            stack.pop()

    def children(self, sid: int) -> List[Span]:
        return [s for s in self.spans if s.parent == sid]

    def named(self, name: str, within: Optional[Span] = None) -> List[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if s.start >= within.start and s.end <= within.end]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


class Patch:
    """Replace attributes with span-recording wrappers; ``restore()`` puts
    the originals back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: List[Tuple[object, str, Callable]] = []

    def wrap(self, owner, attr: str, span_name: str,
             attrs_of: Optional[Callable] = None):
        orig = getattr(owner, attr)
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with tracer.span(span_name, **extra):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._saved.append((owner, attr, orig))

    def restore(self):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def wrap_engine_layers(patch: Patch) -> None:
    """Wrap the layer functions ``CrawlEngine`` calls: ``step``, the
    ``run_round`` plan build, the Bloom shard update, and the catalog's
    table writes, reads, commit and expire."""
    from ideacrawler_spark.operators import bloom
    from ideacrawler_spark.plans import crawl
    from ideacrawler_spark.plans.catalog import ParquetManifestCatalog as Cat

    patch.wrap(crawl.CrawlEngine, "step", "plans.crawl.step")
    patch.wrap(crawl.CrawlEngine, "resume", "plans.crawl.resume")
    patch.wrap(crawl, "run_round", "plans.round.run_round")
    patch.wrap(bloom, "update_shards", "operators.bloom.update_shards")
    patch.wrap(Cat, "write", "plans.catalog.write",
               lambda self, df, rnd, table: {"table": table})
    patch.wrap(Cat, "write_aux", "plans.catalog.write",
               lambda self, df, name: {"table": name})
    patch.wrap(Cat, "read", "plans.catalog.read",
               lambda self, rnd, table: {"table": table})
    patch.wrap(Cat, "read_aux", "plans.catalog.read",
               lambda self, name: {"table": name})
    patch.wrap(Cat, "commit", "plans.catalog.commit")
    patch.wrap(Cat, "expire", "plans.catalog.expire")


# ---- Spark event log ------------------------------------------------------

class EventLog:
    """Jobs, stages and task metrics from a Spark JSON event log."""

    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}
        self.stage_job: Dict[int, int] = {}
        self.tasks: List[dict] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = dict(
                        submit=ev["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id"))
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    info = ev.get("Task Info") or {}
                    self.tasks.append(dict(
                        stage=ev["Stage ID"],
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        shuffle_write=sw.get("Shuffle Bytes Written", 0),
                        records_read=sr.get("Total Records Read", 0),
                        spill=m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        failed=bool(info.get("Failed")),
                    ))

    @staticmethod
    def latest(log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "local-*"))
                 if not p.endswith(".inprogress")]
        return EventLog(max(files, key=os.path.getmtime))

    def job_ids(self, group: Optional[str] = None,
                window: Optional[Tuple[float, float]] = None) -> List[int]:
        """Jobs of a job group, or jobs submitted inside a wall-clock window
        (the engine's action threads do not inherit job groups)."""
        out = []
        for jid, j in self.jobs.items():
            if group is not None and j["group"] != group:
                continue
            if window is not None and not window[0] <= j["submit"] < window[1]:
                continue
            out.append(jid)
        return out

    def totals(self, job_ids: List[int]) -> dict:
        jobs = set(job_ids)
        ts = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        return dict(
            jobs=len(jobs), tasks=len(ts),
            task_s=sum(t["run_s"] for t in ts),
            gc_s=sum(t["gc_s"] for t in ts),
            shuffle_write_bytes=sum(t["shuffle_write"] for t in ts),
            spill_bytes=sum(t["spill"] for t in ts),
            failed_tasks=sum(t["failed"] for t in ts),
        )

    def max_over_median_rows(self, job_ids: List[int]) -> float:
        """Worst per-stage ratio of a task's shuffle records read to the
        stage's median task (the FP-Hadoop partition-skew signal)."""
        import statistics

        jobs = set(job_ids)
        per_stage = defaultdict(list)
        for t in self.tasks:
            if self.stage_job.get(t["stage"]) in jobs and t["records_read"] > 0:
                per_stage[t["stage"]].append(t["records_read"])
        ratios = [max(v) / statistics.median(v) for v in per_stage.values()
                  if len(v) > 1]
        return max(ratios) if ratios else 1.0


# ---- PySpark UDF profiler -------------------------------------------------

# the pandas UDF bodies the program defines, by layer name
UDF_FUNCS = {
    "canonicalize": ("urlnorm.py", "_canon"),
    "resolve": ("urlnorm.py", "_resolve"),
    "extract": ("extract.py", "_extract"),
    "robots": ("robots.py", "_allowed"),
}


def udf_seconds(spark) -> Dict[str, float]:
    """Cumulative Python time per UDF body from the session's perf profiles."""
    results = spark._profiler_collector._perf_profile_results
    out = {k: 0.0 for k in UDF_FUNCS}
    for stats in results.values():
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            for name, (file_suffix, body) in UDF_FUNCS.items():
                if func == body and fname.endswith(file_suffix):
                    out[name] += ct
    return out
