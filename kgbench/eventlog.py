"""Stdlib roll-up of a Spark event log.

The benchmark's session writes its event log (JSON lines, uncompressed)
into the benchmark's scratch directory. Spark flushes the log at every job
and stage end, so after the listener bus drains, every event of a finished
operation is on disk. An operation's events are the lines appended between
two offsets taken around it; operations run one at a time, so no other
work shares that window.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


class EventLog:
    """The event log of one live SparkContext."""

    def __init__(self, spark, log_dir: str):
        self._sc = spark.sparkContext
        app_id = self._sc.applicationId
        matches = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        if len(matches) != 1:
            raise RuntimeError(f"event log for {app_id} not found in {log_dir}")
        self.path = matches[0]

    def _drain(self) -> None:
        # events reach the log through the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def offset(self) -> int:
        self._drain()
        return os.path.getsize(self.path)

    def events_since(self, start: int) -> list[dict]:
        self._drain()
        with open(self.path, "rb") as f:
            f.seek(start)
            data = f.read()
        # a line cut by a concurrent write is dropped, never half-parsed
        return [json.loads(ln) for ln in data.split(b"\n") if ln.endswith(b"}")]


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return names


def rollup(events: list[dict], stage_scope: str = "MapInArrow") -> dict:
    """Task metrics of a window of events, plus the stages whose RDDs carry
    the physical operator `stage_scope` (the Python Arrow stages: detect in
    the pipeline, the recount in mining).

    Returns executor run/CPU/GC seconds, shuffle bytes written, bytes
    spilled (memory + disk) and task count over every task, and for the
    scoped stages their task count, summed stage wall and task skew
    (max / median task duration)."""
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    scoped: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if any(stage_scope in n for n in _scope_names(info)):
                scoped[info["Stage ID"]] = info
    run_ms = cpu_ns = gc_ms = shuffle = spill = 0
    durations: list[int] = []
    for t in tasks:
        m = t.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if t["Stage ID"] in scoped:
            info = t["Task Info"]
            durations.append(info["Finish Time"] - info["Launch Time"])
    stage_ms = sum(
        s.get("Completion Time", 0) - s.get("Submission Time", 0)
        for s in scoped.values()
    )
    skew = (
        max(durations) / max(statistics.median(durations), 1)
        if durations else 0.0
    )
    return {
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1e3,
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "tasks": len(tasks),
        "scoped_tasks": len(durations),
        "scoped_stage_s": stage_ms / 1e3,
        "scoped_task_skew": skew,
    }
