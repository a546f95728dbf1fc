"""The three workload loops and their metrics.

Each loop is a closed loop with one client: the next call is sent only
after the previous one returned. A loop records the wall time of every
call; with tracing on it also sets a Spark job group and a span around
each call, and drains the Catalyst phase listener after it.

Job groups are ``<unit>|<phase>``: ``<query>|build``, ``<query>|first``,
``<query>|warm<i>`` and ``<run_date>|<stage>``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from api import SyntheticSpotifyClient

HEADLINE = "headline"
ITERATIVE = "iterative"
ETL = "etl"

# Queries that build through lineage cuts or cut eagerly at construction.
ITERATIVE_QUERIES = (
    "graph_pagerank",
    "ml_kmeans_exact",
    "ml_dbscan_customers",
    "graph_betweenness_brandes",
    "graph_label_propagation",
    "graph_kcore",
    "graph_hop_distance",
    "dedup_components",
    "supplier_bradley_terry",
    "dedup_cluster_histogram",
    "llm_curation_funnel",
    "llm_bpe_phrase_merges",
)
ETL_STAGES = ("extract_artists", "extract_albums", "extract_tracks", "transform", "load")
ETL_ENTITIES = ("artist", "album", "album_artists", "track", "track_artists")
MIN_WARM_PASSES = 3
MIN_ETL_DAYS = 7
BACKFILL_DAYS = 2
DAILY_SAMPLE = 20  # artists per day, as in the reference DAG
ETL_DATES = ("2024-01-01", "2024-03-31")


@dataclass
class Unit:
    """One query, or one ETL stage: its cold and warm call times."""

    name: str
    first_s: float | None = None
    build_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)
    error: str | None = None
    ops: int = 0


@dataclass
class Loop:
    """What a workload loop hands back to the runner."""

    units: dict[str, Unit]
    extra: dict = field(default_factory=dict)

    @property
    def first_total_s(self) -> float:
        return sum(u.first_s for u in self.units.values() if u.first_s is not None)

    @property
    def warm_total_s(self) -> float:
        return sum(statistics.median(u.warm_s) for u in self.units.values() if u.warm_s)

    def warm_samples(self) -> list[float]:
        return [s for u in self.units.values() for s in u.warm_s]


class Tracer:
    """Job groups, spans and phase listener of a traced run; no-ops
    when tracing is off."""

    def __init__(self, spark, spans=None, listener=None) -> None:
        self.spark = spark
        self.spans = spans
        self.listener = listener
        self.phases: dict[str, dict[str, float]] = {}

    @contextmanager
    def call(self, group: str, span: str):
        if self.spans is None:
            yield
            return
        self.spark.sparkContext.setJobGroup(group, group)
        with self.spans.span(span, group=group):
            yield
        self.phases[group] = self.listener.take()


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def seeded_order(names, seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def run_queries(spark, tracer: Tracer, queries, names, tables_dir: str, seconds: float):
    """Build and first-execute every query once, then re-execute the
    held DataFrames in passes until ``seconds`` have elapsed (at least
    ``MIN_WARM_PASSES`` passes). Returns the loop and the held frames."""
    units = {n: Unit(n) for n in names}
    frames = {}
    t_start = time.perf_counter()
    for n in names:
        u = units[n]
        u.ops += 1
        try:
            with tracer.call(f"{n}|build", "plans.build"):
                t0 = time.perf_counter()
                df = queries[n].fn(spark, tables_dir)
                t1 = time.perf_counter()
            with tracer.call(f"{n}|first", "exec.execute"):
                noop_write(df)
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed call is a measured outcome
            u.error = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        u.build_s, u.first_s = t1 - t0, t2 - t0
        frames[n] = df
    passes = 0
    while frames and (passes < MIN_WARM_PASSES or time.perf_counter() - t_start < seconds):
        for n in list(frames):
            u = units[n]
            u.ops += 1
            try:
                with tracer.call(f"{n}|warm{passes}", "exec.execute"):
                    t0 = time.perf_counter()
                    noop_write(frames[n])
                    u.warm_s.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                u.error = f"{type(e).__name__}: {str(e)[:200]}"
                del frames[n]
        passes += 1
    return Loop(units, {"passes": passes}), frames


def run_etl(spark, tracer: Tracer, seed: int, work: str, seconds: float):
    """Backfill consecutive run dates, ``BACKFILL_DAYS`` per
    ``run_backfill`` call, until ``seconds`` have elapsed (at least
    ``MIN_ETL_DAYS`` days). The first day is the cold pass."""
    from spotify_data_pipeline_spark.pipeline import etl
    from spotify_data_pipeline_spark.pipeline.scheduler import RetryPolicy, daily_dates, run_backfill

    client = SyntheticSpotifyClient(seed)
    cfg = etl.PipelineConfig(
        bronze=os.path.join(work, "bronze"),
        silver=os.path.join(work, "silver"),
        gold=os.path.join(work, "gold"),
        daily_sample=DAILY_SAMPLE,
        min_interval_s=0.0,
    )
    dates = daily_dates(*ETL_DATES)
    units = {s: Unit(s) for s in ETL_STAGES}
    days: list[dict] = []

    def stage(ds: str, name: str, fn):
        def call():
            u = units[name]
            u.ops += 1
            with tracer.call(f"{ds}|{name}", f"etl.{name}"):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            day = days[-1]
            day["stages"][name] = dt
            if len(days) == 1:
                u.first_s = dt
            else:
                u.warm_s.append(dt)

        return name, call

    def tasks_for(ds: str):
        days.append({"ds": ds, "stages": {}})
        pool = spark.createDataFrame([(a,) for a in client.day_artists(ds, DAILY_SAMPLE)], "artist_id string")
        return [
            stage(ds, "extract_artists", lambda: etl.extract_artists(spark, client, pool, ds, cfg)),
            stage(ds, "extract_albums", lambda: etl.extract_albums(spark, client, pool, ds, cfg)),
            stage(ds, "extract_tracks", lambda: etl.extract_tracks(spark, client, ds, cfg)),
            stage(ds, "transform", lambda: etl.transform(spark, ds, cfg)),
            stage(ds, "load", lambda: etl.load(spark, ds, cfg)),
        ]

    t_start = time.perf_counter()
    i = 0
    while i < len(dates) and (i < MIN_ETL_DAYS or time.perf_counter() - t_start < seconds):
        chunk = dates[i:i + (1 if i == 0 else BACKFILL_DAYS)]
        report = run_backfill(chunk, tasks_for, policy=RetryPolicy(retries=0))
        for ds, results in report.runs.items():
            day = next(d for d in days if d["ds"] == ds)
            day["failed"] = [r.name for r in results if r.state != "success"]
            for r in results:
                if r.state == "failed":
                    units[r.name].error = r.error
        i += len(chunk)
    return Loop(units, {"days": days, "client": client, "cfg": cfg})
