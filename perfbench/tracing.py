"""Measurement code of the traced run: spans, Catalyst phases, event log.

- ``Spans`` records named intervals around public calls (name, start,
  end, parent) in memory; ``self_times`` subtracts child spans.
- ``PhaseListener`` is a py4j ``QueryExecutionListener``: for every SQL
  action it keeps the Catalyst phase times of the executed query.
- ``parse_event_log`` reads a Spark event log offline and aggregates
  jobs, stages, tasks and the executed final (adaptive) plan per job
  group.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.clock(), parent=parent, attrs=attrs))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def to_json(self) -> list[dict[str, Any]]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span minus the time of its children."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.seconds
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.name] += s.seconds - child[i]
    return dict(out)


# ---------------------------------------------------------------------------
# Catalyst phases of executed queries
# ---------------------------------------------------------------------------
class PhaseListener:
    """Keeps ``{phase: ms}`` of every successful SQL action's
    ``QueryExecution.tracker``. ``take()`` first drains the listener bus
    so every action finished so far has been delivered."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._new: list[dict[str, float]] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        self._new.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        pass

    def take(self) -> dict[str, float]:
        """Summed phase ms of the actions delivered since the last take."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        got, self._new = self._new, []
        out: dict[str, float] = defaultdict(float)
        for phases in got:
            for k, v in phases.items():
                out[k] += v
        return dict(out)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
PYTHON_NODES = ("Python", "Pandas", "InArrow")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_s: float = 0.0
    run_time_s: float = 0.0
    cpu_s: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_run_time_s: float = 0.0
    skews: list[float] = field(default_factory=list)
    exchanges: int = 0
    reused_exchanges: int = 0
    bnlj: int = 0
    python_eval_nodes: int = 0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _plan_counts(node: dict[str, Any], acc: dict[str, int]) -> None:
    name = node.get("nodeName", "")
    if name in ("Exchange", "ShuffleExchange", "BroadcastExchange"):
        acc["exchanges"] += 1
    elif name == "ReusedExchange":
        acc["reused_exchanges"] += 1
    elif name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        acc["bnlj"] += 1
    elif any(p in name for p in PYTHON_NODES):
        acc["python_eval_nodes"] += 1
    for c in node.get("children", []):
        _plan_counts(c, acc)


def _is_python_stage(stage_info: dict[str, Any]) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if any(p in scope for p in PYTHON_NODES):
            return True
    return False


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Aggregate one event log per job group (``spark.jobGroup.id``)."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    python_stage: set[int] = set()
    stage_run_s: dict[int, float] = defaultdict(float)
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict[str, Any]] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                out[group].jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                intervals[job_group[jid]].append((job_start[jid], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                g = out[stage_group.get(sid, "")]
                g.stages += 1
                times = stage_tasks.pop(sid, [])
                if len(times) >= 2 and statistics.median(times) > 0:
                    g.skews.append(max(times) / statistics.median(times))
                if _is_python_stage(info):
                    python_stage.add(sid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = out[stage_group.get(sid, "")]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                g.tasks += 1
                g.run_time_s += run_ms / 1000
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_ms += m.get("JVM GC Time", 0)
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                stage_tasks[sid].append(run_ms)
                stage_run_s[sid] += run_ms / 1000
            elif kind.endswith("SQLExecutionStart"):
                exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
                final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                final_plan[ev["executionId"]] = ev["sparkPlanInfo"]

    for group, iv in intervals.items():
        out[group].job_wall_s = _union_seconds(iv)
    for sid in python_stage:
        out[stage_group.get(sid, "")].python_run_time_s += stage_run_s[sid]
    for eid, plan in final_plan.items():
        acc: dict[str, int] = defaultdict(int)
        _plan_counts(plan, acc)
        g = out[exec_group.get(eid, "")]
        for k, v in acc.items():
            setattr(g, k, getattr(g, k) + v)
    return dict(out)


def merge(stats: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for s in stats:
        for k, v in vars(s).items():
            if k == "skews":
                out.skews.extend(v)
            else:
                setattr(out, k, getattr(out, k) + v)
    return out
