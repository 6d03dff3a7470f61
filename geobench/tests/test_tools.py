"""Tests for the benchmark's own tools: span self-time arithmetic, the
event-log parser, the SQL-metric plan walker on a tiny real query, the
tail-percentile rule, seeded input generation and the query mix, and the
rule that an unmeasured metric fails the run.

Run from the repo root:  python -m pytest geobench/tests -q
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from geobench import eventlog, inputs, stats
from geobench.tracing import Span, Tracer, descendants, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_once():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("pipeline.run"):
        clock.t = 1.0
        with tr.span("icelite.write_partitioned"):
            clock.t = 4.0
            with tr.span("icelite.read_table"):
                clock.t = 5.0
        clock.t = 6.0
        with tr.span("operators.pip_join"):
            clock.t = 7.0
        clock.t = 10.0
    st = self_times(tr.spans)
    assert st == {0: 5.0, 1: 3.0, 2: 1.0, 3: 1.0}
    assert [s.layer for s in tr.spans] == ["pipeline", "icelite", "icelite", "operators"]
    # self times partition the root's wall exactly
    assert sum(st.values()) == tr.spans[0].duration
    assert descendants(tr.spans, 1) == {1, 2}


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        Span(0, "a.root", 0.0, 10.0),
        Span(1, "b.x", 1.0, 3.0, parent=0),
        Span(2, "b.y", 2.0, 4.0, parent=0),  # overlaps b.x by 1
        Span(3, "b.z", 9.0, 12.0, parent=0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 3.0 - 1.0)


def test_instrument_wraps_and_restores_module_functions():
    import geobench.stats as mod

    orig = mod.median
    tr = Tracer()
    tr.instrument("geobench.stats", "stats", ["median"])
    assert mod.median([3, 1, 2]) == 2
    assert [s.name for s in tr.spans] == ["stats.median"]
    tr.restore()
    assert mod.median is orig


def _task_end(stage, acc, *, cpu_ns=0, gc_ms=0, failed=False, sw=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Failed": failed, "Killed": False,
                      "Accumulables": [{"ID": i, "Name": "x", "Update": str(v)} for i, v in acc]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 5, "JVM GC Time": gc_ms,
                         "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": sw, "Shuffle Write Time": 0},
                         "Shuffle Read Metrics": {"Fetch Wait Time": 3, "Local Bytes Read": 7}},
    }


def test_event_log_attributes_tasks_and_sql_metrics_to_job_groups():
    plan = {
        "nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [{
            "nodeName": "ArrowEvalPython",
            "metrics": [{"name": "data sent to Python workers", "accumulatorId": 11, "metricType": "size"}],
            "children": [{"nodeName": "Range",
                          "metrics": [{"name": "number of output rows", "accumulatorId": 12,
                                       "metricType": "sum"}], "children": []}],
        }],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-3", "spark.sql.execution.id": "0"}},
        {"Event": eventlog.SQL_START, "executionId": 0, "sparkPlanInfo": plan},
        _task_end(0, [(11, 100), (12, 5)], cpu_ns=2_000_000_000, gc_ms=30, sw=64),
        _task_end(1, [(11, 50), (99, 1)], cpu_ns=1_000_000_000, failed=True, spill=8),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task_end(2, [], cpu_ns=500_000_000),
        {"Event": eventlog.SQL_DRIVER_ACCUMS, "executionId": 0, "accumUpdates": [[12, 2]]},
    ]
    by_group = eventlog.attribute(events)
    g = by_group["span-3"]
    assert g["jobs"] == 1 and g["tasks"] == 2 and g["failed_tasks"] == 1
    assert g["executor_cpu_s"] == pytest.approx(3.0)
    assert g["gc_s"] == pytest.approx(0.03)
    assert g["shuffle_write_bytes"] == 64 and g["spill_bytes"] == 8
    assert g["shuffle_fetch_wait_ms"] == 6 and g["shuffle_read_bytes"] == 14
    assert eventlog.sql_metric(g, "data sent to Python workers", "ArrowEvalPython") == 150
    assert eventlog.sql_metric(g, "number of output rows", "Range") == 7  # 5 from a task + 2 from the driver
    assert by_group[None]["jobs"] == 1 and by_group[None]["executor_cpu_s"] == pytest.approx(0.5)
    merged = eventlog.merge([g, by_group[None]])
    assert merged["tasks"] == 3 and merged["jobs"] == 2


def test_walk_plan_reaches_query_stage_children():
    info = {"nodeName": "ResultQueryStage", "metrics": [], "children": [
        {"nodeName": "Exchange", "metrics": [{"name": "data size", "accumulatorId": 5}], "children": []}]}
    assert eventlog.walk_plan(info) == {5: ("Exchange", "data size")}


@pytest.fixture(scope="module")
def spark_with_event_log(tmp_path_factory):
    from geobench import session

    work = str(tmp_path_factory.mktemp("geobench"))
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    spark, _ = session.start(root, work, event_log=True)
    yield spark, work
    session.stop(spark)


def test_plan_walker_on_a_tiny_arrow_udf_query(spark_with_event_log):
    """A pandas UDF under a job group: the event log charges the
    ArrowEvalPython node's row and byte metrics to that group."""
    from pyspark.sql import functions as F

    from geobench import session
    from geospatial_spark.functions import udfs

    spark, work = spark_with_event_log
    tr = Tracer(spark)
    with tr.span("functions.s2_cell"):
        enc = udfs.s2_cell_udf(12)
        rows = spark.range(0, 1000, 1, 2).select(
            enc((F.col("id") % 80).cast("double"), (F.col("id") % 170).cast("double")).alias("c")
        ).agg(F.count("c")).collect()
    assert rows[0][0] == 1000
    path = session.event_log_path(spark, work)
    spark.stop()  # flushes the event log; the fixture ends the JVM
    g = eventlog.attribute(eventlog.read_events(path))["span-0"]
    assert g["jobs"] >= 1 and g["tasks"] >= 2 and g["executor_cpu_s"] > 0
    assert eventlog.sql_metric(g, "number of output rows", "ArrowEvalPython") == 1000
    assert eventlog.sql_metric(g, "data sent to Python workers", "ArrowEvalPython") > 0
    assert eventlog.sql_metric(g, "time to run Python workers", "ArrowEvalPython") >= 0


def test_tail_is_highest_ladder_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None  # p50 would leave only 9 beyond
    t = stats.tail(list(range(1, 21)))
    assert (t["pct"], t["value"], t["beyond"], t["n"]) == (50.0, 10, 10, 20)
    t = stats.tail(list(range(1, 101)))
    assert (t["pct"], t["value"], t["beyond"]) == (90.0, 90, 10)
    t = stats.tail([float(x) for x in range(1, 1001)])
    assert (t["pct"], t["value"], t["beyond"]) == (99.0, 990.0, 10)
    # order of the input does not matter
    assert stats.tail(list(range(100, 0, -1))) == stats.tail(list(range(1, 101)))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    from geospatial_spark.sources import constants as C

    a = inputs.write_pages_inputs(str(tmp_path / "a"), 5, 200, 1000)
    b = inputs.write_pages_inputs(str(tmp_path / "b"), 5, 200, 1000)
    c = inputs.write_pages_inputs(str(tmp_path / "c"), 6, 200, 1000)
    assert inputs.sha256_files(a) == inputs.sha256_files(b) != inputs.sha256_files(c)
    gaz = C.gazetteer_rows()
    s1 = inputs.write_stream_files(str(tmp_path / "s1"), 5, 400, 4, gaz)
    s2 = inputs.write_stream_files(str(tmp_path / "s2"), 5, 400, 4, gaz)
    assert inputs.sha256_files(s1) == inputs.sha256_files(s2)
    assert [os.path.getmtime(p) for p in s1] == sorted(os.path.getmtime(p) for p in s1)
    assert inputs.query_sample(5, 40, C.MEGACITIES) == inputs.query_sample(5, 40, C.MEGACITIES)
    assert len(glob.glob(str(tmp_path / "s1" / "*.parquet"))) == 4


def test_every_aligned_query_block_holds_the_mix():
    from geospatial_spark.sources import constants as C

    qs = inputs.query_sample(9, 10 * inputs.MIX_BLOCK, C.MEGACITIES)
    for at in range(0, len(qs), inputs.MIX_BLOCK):
        kinds = [q["kind"] for q in qs[at : at + inputs.MIX_BLOCK]]
        assert {k: kinds.count(k) for k in inputs.MIX} == inputs.MIX
        mega = [q["kind"] for q in qs[at : at + inputs.MIX_BLOCK] if q["megacity"]]
        assert {k: mega.count(k) for k in inputs.MIX} == inputs.MEGACITY
    assert sum(q["megacity"] for q in qs) == len(qs) // 2


def test_an_unmeasured_metric_is_null_and_a_failed_check():
    from geobench.run import null_unmeasured

    metrics = {
        "a": {"value": np.float64(1.5), "unit": "s"},
        "b": {"value": None, "unit": "s"},
        "c": {"value": float("nan"), "unit": "ms"},
        "d": {"value": 0, "unit": "count"},
    }
    failed = null_unmeasured(metrics)
    assert sorted(failed) == ["measured(b)", "measured(c)"]
    assert [metrics[k]["value"] for k in "abcd"] == [1.5, None, None, 0.0]
    assert type(metrics["a"]["value"]) is float


def test_query_ranges_cover_the_cell_the_program_assigns():
    """The generator's own S2 code agrees with the program's kernel, so a
    range built around a megacity contains that megacity's points."""
    from geospatial_spark.geo import s2

    rng = np.random.default_rng(0)
    for _ in range(300):
        lat = float(np.degrees(np.arcsin(rng.uniform(-1, 1))))
        lon = float(rng.uniform(-180, 180))
        level = int(rng.integers(0, 31))
        ref = int(np.asarray(s2.latlng_to_cell(np.array([lat]), np.array([lon]), level)).astype(np.uint64)[0])
        assert inputs.s2_cell_at(lat, lon, level) == ref
        if level <= 12:
            leaf = int(np.asarray(s2.latlng_to_cell(np.array([lat]), np.array([lon]), 12)).view(np.int64)[0])
            lo, hi = inputs.signed_s2_range(ref)
            assert lo <= leaf <= hi


def test_lock_refuses_a_second_benchmark_session(tmp_path):
    from geobench import session

    path = str(tmp_path / "bench.lock")
    with session.acquire_lock(path):
        with pytest.raises(session.LockHeld):
            session.acquire_lock(path)
    session.acquire_lock(path).close()  # released with the first holder


def test_session_settings_follow_the_host():
    from geobench import session

    s = session.settings(4, 15_000)
    assert s["spark.master"] == "local[2]"
    assert s["spark.sql.shuffle.partitions"] == "8"
    assert s["spark.driver.memory"] == "2048m"
    s = session.settings(1, 2_000)
    assert s["spark.master"] == "local[1]"
    assert s["spark.driver.memory"] == "1024m"
