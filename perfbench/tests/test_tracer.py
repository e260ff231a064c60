"""Self-tests of the benchmark's tracer.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracer import GROUP_KEY, Tracer, fold_event_log, read_event_log, skew  # noqa: E402


class FakeContext:
    """Per-thread local properties, like a SparkContext in pinned-thread
    mode."""

    def __init__(self):
        self._local = threading.local()

    def _props(self):
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value

    def getLocalProperty(self, key):
        return self._props().get(key)


def test_self_time_subtracts_overlapping_child_on_another_thread():
    now = [0.0]
    tracer = Tracer(clock=lambda: now[0])
    tracer.propagate_thread_pools()
    b_may_open, b_opened, b_may_close = threading.Event(), threading.Event(), threading.Event()

    def child_b():
        assert b_may_open.wait(5)
        with tracer.span("b"):
            b_opened.set()
            assert b_may_close.wait(5)
            now[0] = 8.0

    try:
        with ThreadPoolExecutor(max_workers=1) as pool, tracer.span("parent") as parent:
            future = pool.submit(child_b)  # submitted before "a" opens
            now[0] = 2.0
            with tracer.span("a") as a:
                now[0] = 4.0
                b_may_open.set()
                assert b_opened.wait(5)
                now[0] = 5.0
            b_may_close.set()
            future.result(timeout=5)
            now[0] = 10.0
    finally:
        tracer.unpatch()

    b = next(s for s in tracer.spans if s.name == "b")
    assert b.thread != a.thread
    assert a.parent == parent.sid and b.parent == parent.sid
    selfs = tracer.self_times()
    # children cover [2, 5] and [4, 8]: their union is 6 of the parent's 10
    assert selfs[parent.sid] == pytest.approx(4.0)
    assert selfs[a.sid] == pytest.approx(3.0)
    assert selfs[b.sid] == pytest.approx(4.0)


def test_job_group_is_restored_after_nested_spans():
    sc = FakeContext()
    tracer = Tracer(sc=sc)
    sc.setLocalProperty(GROUP_KEY, "caller")
    with tracer.span("outer") as outer:
        assert sc.getLocalProperty(GROUP_KEY) == outer.group
        with tracer.span("inner") as inner:
            assert sc.getLocalProperty(GROUP_KEY) == inner.group
        assert sc.getLocalProperty(GROUP_KEY) == outer.group
        seen = []

        def on_pool_thread():
            seen.append(sc.getLocalProperty(GROUP_KEY))
            with tracer.span("pooled"):
                seen.append(sc.getLocalProperty(GROUP_KEY))
            seen.append(sc.getLocalProperty(GROUP_KEY))

        worker = threading.Thread(target=tracer.bind(on_pool_thread))
        worker.start()
        worker.join(timeout=5)
        assert not worker.is_alive()
        assert seen[0] == outer.group and seen[2] == outer.group
        assert seen[1] != outer.group
        assert sc.getLocalProperty(GROUP_KEY) == outer.group
    assert sc.getLocalProperty(GROUP_KEY) == "caller"
    assert tracer.current() is None


def test_event_log_folding_charges_stages_to_the_submitting_span():
    tracer = Tracer()
    with tracer.span("a") as a:
        with tracer.span("b") as b:
            pass

    def task(stage, run_ms, records=0, shuffle_bytes=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Input Metrics": {"Records Read": records},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
                "Shuffle Read Metrics": {"Total Records Read": 0},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {GROUP_KEY: a.group}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {GROUP_KEY: a.group}},
        task(0, 100, records=10, shuffle_bytes=2_000_000),
        task(0, 300, records=5),
        # job 1 (span b) reuses stage 1, which job 0 listed but never ran
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {GROUP_KEY: b.group}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {GROUP_KEY: b.group}},
        task(1, 50),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},  # a job issued outside any span
        task(3, 999),
    ]
    assert fold_event_log(tracer, events) == 2
    assert a.spark["jobs"] == 1 and b.spark["jobs"] == 1
    assert a.spark["busy_s"] == pytest.approx(0.4)
    assert a.spark["rows_in"] == 15
    assert a.spark["shuffle_mb"] == pytest.approx(2.0)
    assert b.spark["busy_s"] == pytest.approx(0.05)
    assert skew(a.spark["stage_ms"]) == pytest.approx(300 / 200)


def test_event_log_of_a_real_session_attributes_jobs_to_spans(tmp_path):
    SparkSession = pytest.importorskip("pyspark.sql").SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tracer-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .getOrCreate()
    )
    try:
        tracer = Tracer(sc=spark.sparkContext)
        with tracer.span("outer") as outer:
            with tracer.span("counts") as counts:
                assert spark.range(1000).count() == 1000
            assert spark.range(10).collect()[0][0] == 0
    finally:
        spark.stop()
    events = read_event_log(str(log_dir))
    n_jobs = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    # every job ran inside a span, and each lands in the innermost one
    assert fold_event_log(tracer, events) == n_jobs
    assert counts.spark.get("jobs", 0) >= 1
    assert outer.spark.get("jobs", 0) >= 1
    assert counts.spark["jobs"] + outer.spark["jobs"] == n_jobs


def test_benchmark_json_lists_what_the_run_reports():
    import run
    from workloads import WORKLOADS

    repo = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_metric_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
