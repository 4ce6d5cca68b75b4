"""Spark event log → per-layer metrics, attributed to time windows.

The traced run turns on Spark's own event log (uncompressed JSON lines)
and records one window per job it timed. Stages, their tasks and the
streaming query-progress events are attributed to the window that holds
their start time. Time windows, not job groups, because micro-batch jobs
run on the stream's own thread and do not carry the caller's job group.
The benchmark runs one job at a time, so windows never overlap.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# exec-node scopes (and RDD names) of the stages that run Python workers
PYTHON_STAGE = re.compile(r"Python|Pandas|InArrow|ArrowEval|ArrowAggregate|ArrowWindow")

SPARK_METRICS = (
    "spark.driver_s",
    "spark.stages",
    "spark.tasks",
    "spark.task_cpu_s",
    "spark.task_run_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.python_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_fetch_wait_s",
    "spark.spill_mb",
)
STREAMING_METRICS = (
    "streaming.batches",
    "streaming.planning_ms",
    "streaming.add_batch_ms",
    "streaming.log_commit_ms",
    "streaming.state_commit_ms",
    "streaming.state_rows",
)
MB = 1e6


@dataclass
class Window:
    name: str
    start: float  # epoch seconds
    end: float


@dataclass
class _Stage:
    submit: float = 0.0
    complete: float = 0.0
    python: bool = False
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_write_b: int = 0
    fetch_wait_s: float = 0.0
    spill_b: int = 0


@dataclass
class _Progress:
    start: float
    run_id: str
    durations: dict = field(default_factory=dict)
    state_ops: list = field(default_factory=list)


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _read(path: str) -> tuple[dict, list]:
    stages: dict[tuple[int, int], _Stage] = {}
    progress: list[_Progress] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _Stage())
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                st.spill_b += m.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _Stage())
                st.submit = info.get("Submission Time", 0) / 1e3
                st.complete = info.get("Completion Time", 0) / 1e3
                labels = [r.get("Name", "") for r in info.get("RDD Info", [])]
                labels += [json.loads(r["Scope"]).get("name", "") for r in info.get("RDD Info", []) if r.get("Scope")]
                st.python = any(PYTHON_STAGE.search(x) for x in labels)
            elif kind == PROGRESS_EVENT:
                p = ev["progress"]
                progress.append(
                    _Progress(_epoch(p["timestamp"]), p["runId"], p.get("durationMs") or {}, p.get("stateOperators") or [])
                )
    return stages, progress


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def empty_metrics() -> dict[str, float]:
    return {name: 0.0 for name in SPARK_METRICS + STREAMING_METRICS}


def layer_metrics(path: str, windows: list[Window]) -> dict[str, dict[str, float]]:
    """Per-window Spark and streaming layer metrics from one event log.
    ``spark.python_s`` is an estimate: task run time minus JVM task CPU,
    summed over stages whose plan carries a Python evaluation node."""
    stages, progress = _read(path)

    def owner(t: float) -> int | None:
        for i, w in enumerate(windows):
            if w.start <= t <= w.end:
                return i
        return None

    out = [empty_metrics() for _ in windows]
    spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    for st in stages.values():
        i = owner(st.submit)
        if i is None or not st.complete:
            continue
        m, w = out[i], windows[i]
        spans[i].append((max(st.submit, w.start), min(st.complete, w.end)))
        m["spark.stages"] += 1
        m["spark.tasks"] += st.tasks
        m["spark.task_cpu_s"] += st.cpu_s
        m["spark.task_run_s"] += st.run_s
        m["spark.gc_s"] += st.gc_s
        m["spark.input_mb"] += st.input_b / MB
        m["spark.shuffle_write_mb"] += st.shuffle_write_b / MB
        m["spark.shuffle_fetch_wait_s"] += st.fetch_wait_s
        m["spark.spill_mb"] += st.spill_b / MB
        if st.python:
            m["spark.python_s"] += max(st.run_s - st.cpu_s, 0.0)
    for i, w in enumerate(windows):
        out[i]["spark.driver_s"] = (w.end - w.start) - _union_seconds(spans[i])

    last_state: list[dict[str, int]] = [{} for _ in windows]
    for p in progress:
        i = owner(p.start)
        if i is None:
            continue
        m, d = out[i], p.durations
        m["streaming.batches"] += 1
        m["streaming.planning_ms"] += d.get("queryPlanning", 0)
        m["streaming.add_batch_ms"] += d.get("addBatch", 0)
        m["streaming.log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        m["streaming.state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in p.state_ops)
        # state size is a level, not a flow: keep each run's latest batch
        last_state[i][p.run_id] = sum(op.get("numRowsTotal", 0) for op in p.state_ops)
    for i, runs in enumerate(last_state):
        out[i]["streaming.state_rows"] = float(sum(runs.values()))
    return {w.name: m for w, m in zip(windows, out)}
