"""Tests of the benchmark's own measurement code.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the source root. One traced Spark session runs a tiny job with
known stage, task and shuffle counts, one generated sf0.001 query and
three ETL days; the tests then check the event-log parser, the span
arithmetic and that every per-layer metric comes out.
"""

from __future__ import annotations

import glob
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import fidelity  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from api import SyntheticSpotifyClient  # noqa: E402
from tracing import Span, Spans, _union_seconds, parse_event_log, self_times  # noqa: E402

TINY_GROUP = "tiny|first"
QUERY = "agg_pricing_summary"


# ---------------------------------------------------------------------------
# pure arithmetic
# ---------------------------------------------------------------------------
def test_self_times_subtract_children():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    spans = Spans(clock=lambda: next(ticks))
    with spans.span("op"):  # 0 .. 10
        with spans.span("plans.build"):  # 1 .. 3
            pass
        with spans.span("exec.execute"):  # 4 .. 6
            pass
    got = self_times(spans.spans)
    assert got == {"op": 6.0, "plans.build": 2.0, "exec.execute": 2.0}
    assert [s["parent"] for s in spans.to_json()] == [None, 0, 0]


def test_self_times_sum_repeated_names():
    spans = [Span("a", 0, 2), Span("b", 0.5, 1.5, parent=0), Span("a", 3, 4)]
    assert self_times(spans) == {"a": 2.0, "b": 1.0}


def test_union_seconds_merges_overlaps():
    assert _union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def test_answer_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.30000000001]})
    b = pd.DataFrame({"v": [0.3, 0.1, 0.2], "k": [3, 1, 2]})
    assert check.answer_hash(a) == check.answer_hash(b)
    assert check.matches_oracle(a, b) is None
    c = b.assign(k=[3, 1, 4])
    assert check.matches_oracle(a, c).startswith("column 'k'")
    assert check.matches_oracle(a, b.iloc[:2]).startswith("rows")
    # integers compare exactly, even where a float tolerance would pass
    big = pd.DataFrame({"k": [9_000_000_000_000]})
    assert check.matches_oracle(big, big.assign(k=[9_000_000_000_001])) is not None


def test_synthetic_client_pages_agree_with_expectation():
    client = SyntheticSpotifyClient(7)
    ids = client.day_artists("20240101", 3)
    assert client.day_artists("20240101", 3) == ids and len(set(ids)) == 3
    exp = client.expected_day(ids, batch_size=50, album_page=25, track_page=50)
    assert exp["album"] <= exp["album_artists"]
    assert exp["track"] <= exp["track_artists"]
    assert exp["api_calls"] > exp["album"]  # one tracks page per album at least
    page = client.album_tracks("comp001", limit=2, offset=0)
    assert len(page["items"]) <= 2 and set(page["items"][0]) == {"id", "name", "track_number", "duration_ms", "artists"}


def test_datagen_is_seeded():
    a, b, c = datagen.generate(5, 0.001), datagen.generate(5, 0.001), datagen.generate(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.table_sizes(0.001)["lineitem"]


def test_generated_tables_match_fixture_statistics(tmp_path):
    """Against PERFBENCH_FIXTURE_DIR when set, else another seed."""
    fixture = os.environ.get("PERFBENCH_FIXTURE_DIR") or datagen.write_tables(2, 0.01, str(tmp_path))
    assert fidelity.main([fixture, "--seed", "1"]) == 0


def test_tail_percentile_is_fixed_per_workload():
    assert run.workload_tail_pct("headline", 24) == 80
    assert run.workload_tail_pct("iterative", 12) == 70
    assert run.workload_tail_pct("etl", 5) == 60


# ---------------------------------------------------------------------------
# one traced session
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    tables = datagen.write_tables(3, 0.001, os.path.join(work, "tables"))
    os.environ["PYTHONPATH"] = os.pathsep.join([HERE, ROOT])
    spark, registry, steps = run.setup_session(run.session_conf(work, trace=True))
    from tracing import PhaseListener

    spans = Spans()
    tracer = workloads.Tracer(spark, spans, PhaseListener(spark))
    try:
        # Tiny job: no AQE, 4 input partitions, 2 shuffle partitions
        # => one job, two stages, 4 + 2 tasks, one exchange.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        with tracer.call(TINY_GROUP, "exec.execute"):
            workloads.noop_write(spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count())
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.shuffle.partitions")
        tiny_phases = tracer.phases[TINY_GROUP]
        spans.spans.clear()
        tracer.phases.clear()

        queries = registry.all_queries()
        qloop, frames = workloads.run_queries(spark, tracer, queries, [QUERY], tables, seconds=0)
        answers = {QUERY: frames[QUERY].toPandas()}
        q_spans, q_phases = list(spans.spans), dict(tracer.phases)
        spans.spans.clear()
        tracer.phases.clear()

        eloop = workloads.run_etl(spark, tracer, 3, os.path.join(work, "etl"), seconds=0)
    finally:
        run.stop_session(spark)
    oracle = check.oracle_answers({QUERY: queries[QUERY].oracle}, tables)[QUERY]
    q_bad = check.matches_oracle(answers[QUERY], oracle)
    e_bad, expected = run.check_etl(eloop)
    (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
    return {
        "work": work, "log": log, "steps": steps, "tiny_phases": tiny_phases,
        "qloop": qloop, "q_bad": q_bad, "q_spans": q_spans, "q_phases": q_phases,
        "eloop": eloop, "e_bad": e_bad, "expected": expected, "spans": spans, "tracer": tracer,
    }


def test_event_log_counts_of_tiny_job(traced):
    g = parse_event_log(traced["log"])[TINY_GROUP]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 6)
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.exchanges == 1 and g.reused_exchanges == 0 and g.bnlj == 0
    assert 0 < g.job_wall_s and 0 < g.run_time_s
    assert set(traced["tiny_phases"]) >= {"optimization", "planning"}


def _per_layer(traced, workload, loop, spans, phases, expected):
    tracer = workloads.Tracer(None)
    tracer.phases = phases
    holder = Spans()
    holder.spans = spans
    return layers.per_layer(workload, loop, holder, tracer, traced["steps"], traced["work"], expected, cores=4, peak_rss_mb=1.0)


def test_query_layers(traced):
    assert traced["q_bad"] is None
    loop = traced["qloop"]
    m, units = _per_layer(traced, "headline", loop, traced["q_spans"], traced["q_phases"], None)
    assert set(m) == set(layers.PER_LAYER) == set(units)
    u = loop.units[QUERY]
    assert u.ops == 1 + workloads.MIN_WARM_PASSES and len(u.warm_s) == workloads.MIN_WARM_PASSES
    assert m["plans.build_s"] == pytest.approx(u.build_s, rel=0.05, abs=1e-3)
    assert 0 < m["plans.build_share"] < 1
    assert m["catalyst.optimization_ms"] > 0
    assert m["exec.jobs"] >= 1 and m["exec.stages"] >= 1 and m["exec.tasks"] >= m["exec.stages"]
    assert m["exec.first_s"] > 0 and m["exec.warm_s"] > 0
    assert m["exec.input_bytes"] > 0 and m["exec.shuffle_write_bytes"] > 0
    assert m["trace.first_total_s"] == loop.first_total_s
    assert all(m[k] == 0 for k in m if k.startswith(("etl.", "sources.")))


def test_etl_layers(traced):
    assert traced["e_bad"] == {}
    loop = traced["eloop"]
    assert len(loop.extra["days"]) == workloads.MIN_ETL_DAYS
    all_spans = traced["spans"].spans
    m, _ = _per_layer(traced, "etl", loop, all_spans, traced["tracer"].phases, traced["expected"])
    assert set(m) == set(layers.PER_LAYER)
    warm_day = loop.extra["days"][1]["ds"]
    exp = traced["expected"][warm_day]
    assert m["sources.api_calls"] == exp["api_calls"]
    # bronze: 5 entities; silver and gold: 5 partitions each, one file at least
    assert m["etl.files_written"] >= 15
    assert m["etl.bytes_silver"] > 0 and m["etl.bytes_gold"] > 0 and m["etl.bytes_bronze"] > 0
    assert m["etl.jobs"] > 0 and m["plan.python_eval_nodes"] >= 3
    assert 0 < m["sources.python_eval_share"] <= 1
    assert all(m[f"etl.{s}_s"] > 0 for s in workloads.ETL_STAGES)
    assert m["plans.build_s"] == 0 and m["plans.build_jobs"] == 0
