"""Spans recorded from outside the engine, plus Spark event-log metrics.

The engine has no public phase boundary, so the traced run wraps the
methods that bound each phase (``CrawlEngine.run_round`` and its phase
methods, the public ``CheckpointCatalog`` methods) for the life of one
:class:`Tracer`. Spans stay in memory; the caller reads them when the
run ends. Spark job, stage and task metrics come from the uncompressed
event log of the traced session and are attributed to spans by time
window (the log's clock is the JVM's wall clock, the spans use the same
``time.time``). Eager-stage writes run in pool threads and overlap the
round's later phases, so per-phase Spark sums are approximate; per-round
sums are exact up to the round boundary.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (class, method) pairs wrapped by the tracer; the span name is
# "<layer>.<method>". Phase methods are private engine methods: the
# wrappers stay here, in the benchmark, until the engine traces itself.
CRAWLER_METHODS = ("run_round", "_select_pops", "_execute_round",
                   "_dedup_links", "_compact")
CATALOG_METHODS = ("stage", "stage_rows", "commit_round", "read",
                   "read_split", "read_since")


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float
    parent: int | None  # index of the enclosing span on the same thread

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Wraps engine and catalog methods while installed; thread-safe."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[type, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0,
                                   stack[-1] if stack else None))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def _wrap(self, cls: type, method: str, layer: str) -> None:
        orig = cls.__dict__[method]
        name = f"{layer}.{method.lstrip('_')}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._saved.append((cls, method, orig))
        setattr(cls, method, wrapper)

    def install(self) -> None:
        from meilisearchcrawler_spark.engine.catalog import CheckpointCatalog
        from meilisearchcrawler_spark.engine.crawler import CrawlEngine

        for m in CRAWLER_METHODS:
            self._wrap(CrawlEngine, m, "crawler")
        for m in CATALOG_METHODS:
            self._wrap(CheckpointCatalog, m, "catalog")

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._saved):
            setattr(cls, method, orig)
        self._saved = []

    def within(self, start: float, end: float) -> list[Span]:
        """Spans that start inside ``[start, end]``."""
        return [s for s in self.spans if start <= s.start <= end]


# -- Spark event log -------------------------------------------------------

@dataclass
class SparkEvents:
    jobs: list[float]                 # submission times (s)
    stages: list[float]               # completion times (s)
    tasks: list[tuple[float, dict]]   # (finish time s, metrics)


def read_event_log(log_dir: str) -> SparkEvents:
    """Parse the uncompressed event log written under ``log_dir`` (one
    application; a rolling log is a directory of ``events_<n>_*`` files)."""
    jobs: list[float] = []
    stages: list[float] = []
    tasks: list[tuple[float, dict]] = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)
             and not os.path.basename(p).startswith("appstatus")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    done = ev["Stage Info"].get("Completion Time")
                    if done is not None:
                        stages.append(done / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append((info["Finish Time"] / 1000.0, {
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                                               + sr.get("Local Bytes Read", 0)),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)),
                        "failed": int(bool(info.get("Failed"))
                                      or ev.get("Task End Reason", {})
                                      .get("Reason") != "Success"),
                    }))
    return SparkEvents(jobs, stages, tasks)


def spark_window(ev: SparkEvents, start: float, end: float,
                 cores: int) -> dict:
    """Job/stage/task counts and task-metric sums inside one window."""
    out = {"jobs": sum(start <= t <= end for t in ev.jobs),
           "stages": sum(start <= t <= end for t in ev.stages),
           "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "failed": 0}
    for t, m in ev.tasks:
        if start <= t <= end:
            out["tasks"] += 1
            for k, v in m.items():
                out[k] += v
    wall = max(end - start, 1e-9)
    out["busy_frac"] = out["run_s"] / (cores * wall)
    return out
