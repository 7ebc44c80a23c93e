"""Spans around the benchmark's calls into sparkclean, Spark counters per
span, and a sampler for the peak resident memory of the process tree.

A span records name, start, end and parent.  With tracing on, each span
also runs its Spark work under its own job group, and on exit reads the
group's jobs from ``statusTracker()`` and their stages from the status
store (both work with ``spark.ui.enabled=false``).  With tracing off a
span only records its times, so the untraced run pays two clock reads
per layer call.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# Spark counters read per traced span; the status store's names
_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "output_bytes": "outputBytes",
    "run_ms": "executorRunTime",
}


class Tracer:
    """Collects spans; ``traced`` turns on the per-span Spark counters."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self.spark = None  # set by the workload once a session exists

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if (self.traced and self.spark is not None) else None
        group = None
        if sc is not None:
            self._groups += 1
            group = rec["group"] = f"{name}#{self._groups}"
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                parent = self.spans[self._stack[-1]] if self._stack else {}
                if "group" in parent:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(spark_counters(sc, group))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def self_time(spans: list[dict], i: int) -> float:
    """Span ``i``'s duration minus the part its direct children cover
    (children of one span run one after another, never overlapping)."""
    s = spans[i]
    covered = sum(c["end"] - c["start"] for c in spans if c["parent"] == i)
    return (s["end"] - s["start"]) - covered


def spark_counters(sc, group: str) -> dict:
    """Jobs, stages, tasks and stage metrics of the jobs run under ``group``."""
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    job_ids = tracker.getJobIdsForGroup(group)
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "stages_skipped": 0, "tasks": 0,
           "task_attempts": 0, "task_failures": 0}
    out.update({k: 0 for k in _STAGE_FIELDS})
    if not stage_ids:
        return out
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.stageList(jvm.java.util.ArrayList(), False, False,
                        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    )
    for st in stages:
        if st.stageId() not in stage_ids:
            continue
        out["stages"] += 1
        if st.status().toString() == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["tasks"] += st.numTasks()
        failed = st.numFailedTasks()
        out["task_failures"] += failed
        out["task_attempts"] += st.numCompleteTasks() + failed + st.numKilledTasks()
        for key, field in _STAGE_FIELDS.items():
            fields = field if isinstance(field, tuple) else (field,)
            out[key] += sum(getattr(st, f)() for f in fields)
    # stages that never ran in this session are absent from the store
    out["stages_skipped"] += len(stage_ids) - out["stages"]
    out["stages"] = len(stage_ids)
    return out


def _tree_rss_kb(root: int) -> tuple[int, int]:
    """Summed VmRSS of ``root`` and all its descendants, from /proc:
    (all processes, the JVM alone)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[int, bool]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                ppid = kb = 0
                java = False
                for line in f:
                    if line.startswith("Name:"):
                        java = line.split()[1] == "java"
                    elif line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue  # the process ended while we read it
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = (kb, java)
    total = jvm = 0
    todo = [root]
    while todo:
        p = todo.pop()
        kb, java = rss.get(p, (0, False))
        total += kb
        jvm += kb if java else 0
        todo.extend(children.get(p, []))
    return total, jvm


class RssSampler:
    """Background thread tracking the peak summed RSS of this process,
    the Spark JVM and its Python workers (all descendants of this
    process), and of the JVM alone.  Forked workers share pages, so the
    sum over-counts shared memory the same way on every run."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, jvm = _tree_rss_kb(os.getpid())
        self.peak_kb = max(self.peak_kb, total)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_python_kb = max(self.peak_python_kb, total - jvm)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
