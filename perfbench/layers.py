"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. Sources: the set-up step
timings; the spans around each public call; the Catalyst phase times
the ``PhaseListener`` collected per job group; and the Spark event log,
parsed after the session stopped.

A workload reports every metric. A layer the workload does not call
reports 0: the query workloads write no ETL zones and call no API, and
the ETL workload builds no registry query.

- "cold" is the first pass: every query's build and first execution, or
  the first ETL day.
- "warm0" is the first warm pass: every query's first re-execution, or
  the second ETL day. Counts, bytes and plan facts come from it, so
  they do not depend on how many passes fit in the run.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

from check import dir_bytes
from tracing import GroupStats, merge, parse_event_log, self_times
from workloads import ETL, ETL_ENTITIES, ETL_STAGES

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "plans.registry_load_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.bnlj": "count",
    "plan.python_eval_nodes": "count",
    "exec.first_s": "s",
    "exec.warm_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_frac": "ratio",
    "exec.task_skew": "ratio",
    "exec.executor_cpu_s": "s",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    **{f"etl.{s}_s": "s" for s in ETL_STAGES},
    "etl.jobs": "count",
    "etl.files_written": "count",
    "etl.bytes_bronze": "bytes",
    "etl.bytes_silver": "bytes",
    "etl.bytes_gold": "bytes",
    "etl.rows_per_s": "rows/s",
    "etl.storage_amp": "ratio",
    "sources.api_calls": "count",
    "sources.payload_bytes": "bytes",
    "sources.python_eval_share": "ratio",
    "mem.peak_rss_mb": "MiB",
    "trace.first_total_s": "s",
    "trace.warm_total_s": "s",
}


def _split(group: str) -> tuple[str, str]:
    unit, _, phase = group.partition("|")
    return unit, phase


def per_layer(workload, loop, spans, tracer, steps, work, expected, cores: int, peak_rss_mb: float):
    """Returns ({metric: value}, {metric: unit}) for every PER_LAYER metric."""
    (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
    groups = parse_event_log(log)

    if workload == ETL:
        days = [d["ds"] for d in loop.extra["days"]]
        warm_day = days[1] if len(days) > 1 else days[0]
        is_cold = lambda unit, phase: unit == days[0]  # noqa: E731
        is_warm0 = lambda unit, phase: unit == warm_day  # noqa: E731
        is_build = lambda unit, phase: False  # noqa: E731
        warm_key = lambda unit, phase: phase if unit != days[0] else None  # noqa: E731
    else:
        is_cold = lambda unit, phase: phase in ("build", "first")  # noqa: E731
        is_warm0 = lambda unit, phase: phase == "warm0"  # noqa: E731
        is_build = lambda unit, phase: phase == "build"  # noqa: E731
        warm_key = lambda unit, phase: unit if phase.startswith("warm") else None  # noqa: E731

    def pick(pred) -> GroupStats:
        return merge([g for name, g in groups.items() if name and pred(*_split(name))])

    def phase_ms(pred, phase: str) -> float:
        return sum(p.get(phase, 0.0) for name, p in tracer.phases.items() if pred(*_split(name)))

    warm_walls: dict[str, list[float]] = defaultdict(list)
    for name, g in groups.items():
        key = warm_key(*_split(name)) if name else None
        if key:
            warm_walls[key].append(g.job_wall_s)

    cold, warm0, build = pick(is_cold), pick(is_warm0), pick(is_build)
    span_s = self_times(spans.spans)
    build_s = span_s.get("plans.build", 0.0)
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    m.update(
        {
            "session.get_spark_s": steps["get_spark"],
            "session.warmup_s": steps["warmup"],
            "plans.registry_load_s": steps["registry_load"],
            "plans.build_s": build_s,
            "plans.build_jobs": build.jobs,
            "plans.build_share": build_s / loop.first_total_s if loop.first_total_s else 0.0,
            "catalyst.analysis_ms": phase_ms(is_cold, "analysis"),
            "catalyst.optimization_ms": phase_ms(is_cold, "optimization"),
            "catalyst.planning_ms": phase_ms(is_cold, "planning"),
            "plan.exchanges": warm0.exchanges,
            "plan.reused_exchanges": warm0.reused_exchanges,
            "plan.bnlj": warm0.bnlj,
            "plan.python_eval_nodes": warm0.python_eval_nodes,
            "exec.first_s": cold.job_wall_s,
            "exec.warm_s": sum(statistics.median(v) for v in warm_walls.values()),
            "exec.jobs": warm0.jobs,
            "exec.stages": warm0.stages,
            "exec.tasks": warm0.tasks,
            "exec.task_busy_frac": warm0.run_time_s / (warm0.job_wall_s * cores) if warm0.job_wall_s else 0.0,
            "exec.task_skew": statistics.median(warm0.skews) if warm0.skews else 1.0,
            "exec.executor_cpu_s": warm0.cpu_s,
            "exec.gc_ms": warm0.gc_ms,
            "exec.input_bytes": warm0.input_bytes,
            "exec.shuffle_write_bytes": warm0.shuffle_write_bytes,
            "exec.shuffle_read_bytes": warm0.shuffle_read_bytes,
            "exec.spill_bytes": warm0.spill_bytes,
            "mem.peak_rss_mb": peak_rss_mb,
            "trace.first_total_s": loop.first_total_s,
            "trace.warm_total_s": loop.warm_total_s,
        }
    )
    if workload == ETL:
        m.update(_etl_metrics(loop, warm_day, expected, groups))
    return m, PER_LAYER


def _etl_metrics(loop, warm_day: str, expected, groups) -> dict[str, float]:
    cfg = loop.extra["cfg"]
    days = loop.extra["days"]
    out: dict[str, float] = {}
    for s in ETL_STAGES:
        warm = loop.units[s].warm_s
        out[f"etl.{s}_s"] = statistics.median(warm) if warm else loop.units[s].first_s or 0.0
    zones = {
        "bronze": [os.path.join(cfg.bronze, warm_day)],
        "silver": [f"{cfg.silver}/{e}/run_date={warm_day}" for e in ETL_ENTITIES],
        "gold": [f"{cfg.gold}/{e}/run_date={warm_day}" for e in ETL_ENTITIES],
    }
    files = 0
    for zone, paths in zones.items():
        sizes = [dir_bytes(p) for p in paths]
        files += sum(f for f, _ in sizes)
        out[f"etl.bytes_{zone}"] = sum(b for _, b in sizes)
    out["etl.files_written"] = files
    extract = [g for name, g in groups.items() if name.startswith(f"{warm_day}|extract")]
    out["etl.jobs"] = sum(g.jobs for name, g in groups.items() if name.startswith(f"{warm_day}|"))
    landed = [d for d in days if d["ds"] in expected]
    rows = sum(sum(expected[d["ds"]][e] for e in ETL_ENTITIES) for d in landed)
    out["etl.rows_per_s"] = rows / sum(sum(d["stages"].values()) for d in landed) if landed else 0.0
    exp = expected.get(warm_day, {})
    out["sources.api_calls"] = exp.get("api_calls", 0)
    out["sources.payload_bytes"] = exp.get("payload_bytes", 0)
    zone_bytes = out["etl.bytes_bronze"] + out["etl.bytes_silver"] + out["etl.bytes_gold"]
    out["etl.storage_amp"] = zone_bytes / exp["payload_bytes"] if exp.get("payload_bytes") else 0.0
    run = sum(g.run_time_s for g in extract)
    out["sources.python_eval_share"] = sum(g.python_run_time_s for g in extract) / run if run else 0.0
    return out
