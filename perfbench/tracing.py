"""Outside-in tracing: spans recorded by the benchmark around its calls into
the engine, and Spark engine counters read back from the event log and the
JVM's garbage-collector beans.

Spans stay in memory and are written out once, when the run ends. Nothing
here reaches into engine code; the catalog spans come from wrapping the
public ``Warehouse`` methods the micro-batch loop calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [1e3 * (s["end"] - s["start"]) for s in self.spans if s["name"] == name]

    def per_op_count(self, name: str) -> list[int]:
        counts: dict[str, int] = {}
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                counts[s["op"]] = counts.get(s["op"], 0) + 1
        return list(counts.values())

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_method(tracer: Tracer, cls: type, method: str, span_name: str) -> None:
    """Record a span around every call of ``cls.method`` in this process."""
    original = getattr(cls, method)

    def wrapped(self, *args, **kwargs):
        with tracer.span(span_name):
            return original(self, *args, **kwargs)

    setattr(cls, method, wrapped)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------- engine counters


def jvm_gc_ms(spark) -> int:
    """Total collection time of the engine JVM's garbage collectors so far.
    A task's own GC time misses collections that fall between tasks, which
    is most of them for short queries with a large young generation."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the application log(s) under ``log_dir``."""
    events = []
    for dirpath, _, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(dirpath, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def engine_counters(events: list[dict], groups: set[str]) -> dict[str, tuple[float, str]]:
    """Per-op Spark counters for the jobs run under the given job groups
    (one group per traced op): jobs, tasks, executor CPU, shuffle write,
    spill, and the worst per-stage task skew (max / median task duration,
    over stages with at least four tasks)."""
    stage_group: dict[int, str] = {}
    jobs = {g: 0 for g in groups}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                jobs[group] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = group
    tasks = {g: 0 for g in groups}
    cpu_ns = {g: 0 for g in groups}
    shuffle_b = {g: 0 for g in groups}
    spill_b = {g: 0 for g in groups}
    stage_durations: dict[int, list[int]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(e.get("Stage ID"))
        if group is None:
            continue
        m = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        tasks[group] += 1
        cpu_ns[group] += m.get("Executor CPU Time", 0)
        shuffle_b[group] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill_b[group] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        stage_durations.setdefault(e["Stage ID"], []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    skews = [
        max(d) / max(statistics.median(d), 1)
        for d in stage_durations.values()
        if len(d) >= 4
    ]
    mb = 1024 * 1024
    return {
        "spark.jobs_per_op": (median(jobs.values()), "count"),
        "spark.tasks_per_op": (median(tasks.values()), "count"),
        "spark.executor_cpu_ms_per_op": (median(v / 1e6 for v in cpu_ns.values()), "ms"),
        "spark.shuffle_write_mb_per_op": (median(v / mb for v in shuffle_b.values()), "MB"),
        "spark.spill_mb_per_op": (median(v / mb for v in spill_b.values()), "MB"),
        "spark.max_task_skew": (max(skews) if skews else 1.0, "ratio"),
    }
