"""In-memory spans and Spark status-store readers for the traced run.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer; nothing inside the package is touched. A span has
a name, start, end and parent; a layer's self time is its duration minus
the part its child spans cover. The traced run also reads Spark's own
counters: jobs, stages and task metrics from the status store, grouped by
the job group the benchmark sets around each phase.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import threading
import time


class Tracer:
    """Collects spans when ``enabled``; every method is a cheap no-op
    otherwise, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the child spans' intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def wrap_load_table(tracer: Tracer, package: str) -> None:
    """Time every ``load_table`` call by replacing the reference each
    loaded module of ``package`` holds with a wrapper that records a span
    and moves the call's Spark jobs into their own job group."""
    from pyspark import SparkContext

    mods = [m for name, m in list(sys.modules.items())
            if name.startswith(package) and m is not None
            and callable(getattr(m, "load_table", None))]
    original = getattr(sys.modules[f"{package}.sources.batch"], "load_table")

    def load_table(spark, sf_dir, name):
        sc = SparkContext._active_spark_context
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{group}.load")
        try:
            with tracer.span("sources.batch.load_table", table=name):
                return original(spark, sf_dir, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)

    for m in mods:
        if getattr(m, "load_table") is original:
            m.load_table = load_table


class StatusReader:
    """Reads jobs and stages from the JVM status store. The store fills
    from the listener bus, so every read first drains the bus."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._seen = -1

    def mark(self) -> None:
        """Ignore every job submitted so far."""
        self._seen = self._sc.dagScheduler().nextJobId() - 1

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first."""
        self.drain()
        jobs = self._sc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                break
            grp = j.jobGroup()
            sub = j.submissionTime()
            out.append({
                "id": jid,
                "group": grp.get() if grp.isDefined() else None,
                "submitted": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "stages": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
            })
        if out:
            self._seen = out[0]["id"]
        return out[::-1]

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Task metrics summed over the stages that ran (skipped stages
        have no attempt and count for nothing)."""
        store = self._sc.statusStore()
        t = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
             "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        for sid in sorted(set(stage_ids)):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["run_ms"] += s.executorRunTime()
            t["cpu_ns"] += s.executorCpuTime()
            t["shuffle_read"] += s.shuffleReadBytes()
            t["shuffle_write"] += s.shuffleWriteBytes()
            t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return t

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize()
                   for i in self._sc.getRDDStorageInfo())


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def quantile(values, q: int) -> float:
    """The q-th percentile (inclusive interpolation); 0 when empty."""
    values = sorted(values)
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def distribution(counts) -> dict:
    """How many counts, and their quartiles and maximum."""
    return {"n": len(counts), "p25": quantile(counts, 25), "p50": median(counts),
            "p75": quantile(counts, 75), "max": max(counts, default=0)}
