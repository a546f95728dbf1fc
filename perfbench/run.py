"""Benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a source tree that holds ``spotify_data_pipeline_spark``.
Inputs are generated from ``--seed`` before any clock starts, into
``.perfbench-work/`` under the working directory. The last line of
stdout is the result: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``). The line before it is the run context.
See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    ETL,
    ETL_ENTITIES,
    ETL_STAGES,
    HEADLINE,
    ITERATIVE,
    ITERATIVE_QUERIES,
    MIN_ETL_DAYS,
    MIN_WARM_PASSES,
    Loop,
    Tracer,
    run_etl,
    run_queries,
    seeded_order,
)

WORKLOADS = (HEADLINE, ITERATIVE, ETL)
# Scale factor of the generated tables. `iterative` runs at sf0.01: at
# sf0.1 one of its runs takes more than six minutes on a 4-core host.
QUERY_SF = {HEADLINE: 0.1, ITERATIVE: 0.01}
SETUP_SAMPLES = 3  # fresh processes timed for setup_s; the last is the run's own session
PACKAGE = "spotify_data_pipeline_spark"

END_TO_END = {
    "setup_s": "s",
    "first_total_s": "s",
    "warm_total_s": "s",
    "warm_p50_s": "s",
    "warm_tail_s": "s",
}


# ---------------------------------------------------------------------------
# session set-up (timed identically in probes and in the run itself)
# ---------------------------------------------------------------------------
def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def setup_session(conf: dict[str, str]):
    """get_spark, registry import, one tiny warm-up job; returns
    (spark, registry, {step: seconds})."""
    t0 = time.perf_counter()
    from spotify_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from spotify_data_pipeline_spark.plans import registry

    registry.all_queries()
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    t3 = time.perf_counter()
    steps = {"get_spark": t1 - t0, "registry_load": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}
    return spark, registry, steps


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts a new JVM
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probe_setup(work: str) -> float:
    """Set up a session in a fresh process; returns its set-up seconds."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe", work],
        capture_output=True, text=True, timeout=150, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["total"]


# ---------------------------------------------------------------------------
# run context and memory
# ---------------------------------------------------------------------------
def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _source_fingerprint(root: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


class RssSampler(threading.Thread):
    """Peak summed RSS of every descendant process (the JVM and its
    Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def sample_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{entry}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
            rss[int(entry)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
        total, stack = 0, list(children.get(root_pid, []))
        while stack:
            pid = stack.pop()
            total += rss.get(pid, 0)
            stack.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb(me))
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self.sample_kb(os.getpid()))
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------
def check_queries(spark, loop: Loop, frames, queries, tables_dir: str) -> dict[str, str]:
    """Compare every held query's answer with its oracle; queries without
    one must give the same answer twice. Stops the session. DuckDB runs
    the oracles in a thread meanwhile. Returns {query: reason}."""
    from concurrent.futures import ThreadPoolExecutor

    from check import answer_hash, matches_oracle, oracle_answers

    bad = {n: u.error for n, u in loop.units.items() if u.error}
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(
            oracle_answers, {n: queries[n].oracle for n in frames if queries[n].oracle}, tables_dir
        )
        answers = {n: df.toPandas() for n, df in frames.items()}
        again = {n: frames[n].toPandas() for n in frames if not queries[n].oracle}
        stop_session(spark)
        expected = oracles.result()
    for n, result in answers.items():
        if n in expected:
            why = matches_oracle(result, expected[n])
        else:
            why = None if answer_hash(result) == answer_hash(again[n]) else "answer changed between runs"
        if why:
            bad.setdefault(n, why)
    return bad


def check_etl(loop: Loop) -> tuple[dict[str, str], dict[str, dict]]:
    """Gold row counts per entity per day against plain-Python counts
    from the synthetic catalog. Returns ({run_date: reason}, {run_date: expected})."""
    from check import parquet_rows

    client, cfg = loop.extra["client"], loop.extra["cfg"]
    bad, expected = {}, {}
    for day in loop.extra["days"]:
        ds = day["ds"]
        if day.get("failed"):
            bad[ds] = "failed stages: " + ",".join(day["failed"])
            continue
        exp = client.expected_day(
            client.day_artists(ds, cfg.daily_sample), cfg.artist_batch_size,
            cfg.album_page_size, cfg.track_page_size,
        )
        expected[ds] = exp
        got = {e: parquet_rows(f"{cfg.gold}/{e}/run_date={ds}") for e in ETL_ENTITIES}
        wrong = [f"{e} {got[e]}!={exp[e]}" for e in ETL_ENTITIES if got[e] != exp[e]]
        if wrong:
            bad[ds] = "; ".join(wrong)
    return bad, expected


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def tail_percentile(n: int) -> int:
    """The highest of p90, p80, ... p50 with at least ten of ``n``
    samples above it; p50 when none has."""
    for pct in (90, 80, 70, 60):
        if n * (100 - pct) / 100 >= 10:
            return pct
    return 50


def workload_tail_pct(workload: str, n_units: int) -> int:
    """The tail percentile of a workload, fixed by the warm samples its
    minimum work gives, so it does not change with how many more passes
    or days fit into ``--seconds``."""
    if workload == ETL:
        return tail_percentile((MIN_ETL_DAYS - 1) * len(ETL_STAGES))
    return tail_percentile(MIN_WARM_PASSES * n_units)


def end_to_end(loop: Loop, setup_s: float, tail_pct: int) -> dict[str, float]:
    warm = loop.warm_samples()
    return {
        "setup_s": setup_s,
        "first_total_s": loop.first_total_s,
        "warm_total_s": loop.warm_total_s,
        "warm_p50_s": statistics.median(warm),
        "warm_tail_s": statistics.quantiles(warm, n=100)[tail_pct - 1],
    }


def _result(correct: bool, attempted: int, failed: int, metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="WORKDIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "session.py")):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the source root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Python workers unpickle the synthetic API client and the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, root, os.environ.get("PYTHONPATH")) if p
    )

    if args.setup_probe:
        spark, _registry, steps = setup_session(session_conf(args.setup_probe, trace=False))
        stop_session(spark)
        print(json.dumps(steps))
        return 0
    if not args.workload:
        ap.error("--workload is required")

    trace = bool(args.trace)
    work = os.path.join(root, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # py4j, Python workers and probes
    try:
        return _run(args, root, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str, trace: bool) -> int:
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        "loadavg_before": os.getloadavg(),
        "git_commit": _git_commit(root),
        "source_fingerprint": _source_fingerprint(root),
    }
    marks = [time.perf_counter()]
    phases = context["phases_s"] = {}

    def mark(name: str) -> None:
        marks.append(time.perf_counter())
        phases[name] = marks[-1] - marks[-2]
    # Inputs first, in a child process, so this process has imported
    # nothing heavy before its own session set-up is timed.
    tables_dir = os.path.join(work, "tables")
    if args.workload != ETL:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), str(args.seed), str(QUERY_SF[args.workload]), tables_dir],
            check=True, capture_output=True, timeout=150,
        )
        context["query_sf"] = QUERY_SF[args.workload]
    mark("inputs")
    setup_samples = [] if trace else [probe_setup(work) for _ in range(SETUP_SAMPLES - 1)]
    mark("setup_probes")

    spans = listener = None
    if trace:
        from tracing import Spans

        spans = Spans()
    spark, registry, steps = setup_session(session_conf(work, trace))
    setup_samples.append(steps["total"])
    conf = spark.sparkContext.getConf()
    context.update(
        {
            "spark.master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "setup_samples_s": setup_samples,
            "setup_steps_s": steps,
        }
    )
    if trace:
        from tracing import PhaseListener

        listener = PhaseListener(spark)
    tracer = Tracer(spark, spans, listener)
    mark("setup")

    sampler = RssSampler()
    sampler.start()
    try:
        if args.workload == ETL:
            loop = run_etl(spark, tracer, args.seed, work, args.seconds)
            frames = {}
        else:
            queries = registry.all_queries()
            names = ITERATIVE_QUERIES if args.workload == ITERATIVE else list(registry.headline_queries())
            loop, frames = run_queries(
                spark, tracer, queries, seeded_order(names, args.seed), tables_dir, args.seconds
            )
    finally:
        context["peak_rss_mb"] = sampler.stop()
    context["loadavg_after"] = os.getloadavg()
    mark("loop")

    # ---- correctness, after the clock --------------------------------
    if trace:
        spark.sparkContext.setJobGroup("check", "check")
    if args.workload == ETL:
        stop_session(spark)
        bad, expected = check_etl(loop)
        wrong_ops = len(ETL_STAGES) * len(bad)
        context["etl_days"] = len(loop.extra["days"])
    else:
        bad = check_queries(spark, loop, frames, queries, tables_dir)
        wrong_ops = sum(loop.units[n].ops for n in bad)
        from datagen import fingerprint

        context["inputs_fingerprint"] = fingerprint(tables_dir)
    attempted = sum(u.ops for u in loop.units.values())
    context["failures"] = bad
    context["ops"] = {n: {"first_s": u.first_s, "build_s": u.build_s, "warm_s": u.warm_s} for n, u in loop.units.items()}
    if trace:
        context["spans"] = spans.to_json()
    context["warm_samples"] = len(loop.warm_samples())
    context["warm_tail_pct"] = workload_tail_pct(args.workload, len(loop.units))
    mark("check")

    if trace:
        import layers

        metrics, units = layers.per_layer(
            args.workload, loop, spans, tracer, steps, work,
            expected if args.workload == ETL else None, context["default_parallelism"],
            context["peak_rss_mb"],
        )
        mark("event_log")
    else:
        metrics = end_to_end(loop, statistics.median(setup_samples), context["warm_tail_pct"])
        units = END_TO_END
    print(json.dumps({"context": context}, default=str))
    print(_result(not bad, attempted, min(wrong_ops, attempted), metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
