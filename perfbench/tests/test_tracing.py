"""Tests of the event-log parser and the span recorder, without Spark.

Run from the repository root::

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def log():
    return tracing.EventLog.from_dir(FIXTURE)


def test_jobs_are_read_from_a_rolling_log(log):
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[0]["span"] == "7"
    assert log.jobs[1]["span"] is None
    assert log.jobs[0]["submit"] == pytest.approx(1001.0)
    assert log.jobs[1]["submit"] == pytest.approx(1003.0)


def test_task_metrics_are_summed_per_job(log):
    j = log.jobs[0]
    assert j["tasks"] == 4
    assert j["tasks_failed"] == 1
    assert j["exec_run_s"] == pytest.approx(1.3)
    assert j["exec_cpu_s"] == pytest.approx(1.05)
    assert j["gc_s"] == pytest.approx(0.015)
    assert j["shuffle_write_mb"] == pytest.approx(3.0)
    assert j["spill_mb"] == pytest.approx(2.0)


def test_a_stage_reused_by_a_later_job_counts_as_skipped(log):
    assert (log.jobs[0]["stages"], log.jobs[0]["stages_skipped"]) == (2, 0)
    assert (log.jobs[1]["stages"], log.jobs[1]["stages_skipped"]) == (1, 1)


def test_spark_totals_over_a_window(log):
    out = tracing.spark_totals(list(log.jobs.values()), 1001.0, 1004.0, 4)
    assert out["spark.jobs"] == 2
    assert out["spark.tasks"] == 5
    assert out["spark.exec_run_s"] == pytest.approx(1.7)
    assert out["spark.util"] == pytest.approx(1.7 / (3.0 * 4))
    # Tasks run in [1.1, 1.7], [1.8, 2.0] and [3.1, 3.5]: 1.2 s busy.
    assert out["spark.idle_s"] == pytest.approx(3.0 - 1.2)


def test_op_metrics_attribute_jobs_to_spans_and_their_parents(log):
    spans = [
        (1, "op", 1000.9, 1004.0, None),
        (2, "imputer.fit", 1000.95, 1002.5, 1),
        (7, "mllib.fit", 1001.0, 1002.2, 2),
        (9, "sink", 1002.9, 1003.9, 1),
    ]
    out = tracing.op_metrics(spans, log.jobs, spans[0], 4)
    assert out["spark.jobs"] == 2
    assert out["mllib.fit.jobs"] == 1
    assert out["imputer.fit.jobs"] == 1
    assert out["sink.jobs"] == 0
    assert out["mllib.fit.s"] == pytest.approx(1.2)
    assert out["mllib.fit.calls"] == 1
    assert out["imputer.fit.s"] == pytest.approx(1.55)
    assert out["imputer.fit.self_s"] == pytest.approx(1.55 - 1.2)


def test_self_time_counts_overlapping_children_once():
    span = (1, "imputer.fit", 0.0, 10.0, None)
    kids = [(2, "a", 1.0, 4.0, 1), (3, "a", 2.0, 5.0, 1), (4, "a", 9.0, 12.0, 1)]
    assert tracing.self_time(span, kids) == pytest.approx(10.0 - 4.0 - 1.0)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        self.props[threading.get_ident()] = value


def test_tracer_sets_the_span_property_per_thread_and_links_pool_threads():
    sc = _FakeContext()
    tracer = tracing.Tracer(sc)
    seen = {}

    def in_pool():
        with tracer.span("mllib.fit") as s:
            seen["pool"] = (s.sid, sc.props[threading.get_ident()])

    with tracer.span("imputer.fit") as outer:
        t = threading.Thread(target=in_pool)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        seen["main"] = sc.props[threading.get_ident()]
    assert sc.props[threading.get_ident()] is None
    assert seen["main"] == str(outer.sid)
    assert seen["pool"][1] == str(seen["pool"][0])
    by_name = {s[1]: s for s in tracer.spans}
    assert by_name["mllib.fit"][4] == outer.sid
    assert by_name["imputer.fit"][4] is None


def test_install_wraps_inherited_methods_and_uninstall_restores_them():
    pytest.importorskip("pyspark")
    from pyspark.ml.pipeline import Pipeline, PipelineModel

    before = (Pipeline.__dict__.get("fit"), "load" in PipelineModel.__dict__)
    tracer = tracing.Tracer(_FakeContext())
    tracer.install()
    try:
        assert Pipeline.__dict__["fit"].__wrapped__ is not None
        assert isinstance(PipelineModel.__dict__["load"], classmethod)
    finally:
        tracer.uninstall()
    assert (Pipeline.__dict__.get("fit"), "load" in PipelineModel.__dict__) == before


def test_benchmark_json_names_the_metrics_the_worker_prints():
    import worker

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == worker.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(worker.workloads.WORKLOADS)
