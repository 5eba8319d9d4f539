"""The timing core that bench.py and tools/qtime.py share: what one run
counts, which entries the suite runs and in what order, and the
one-line stdout contract."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import bench
from scikit_learn_imputer_spark.plans.queries import QUERIES

IVF_CHAIN = [
    "ann_ivf_build",
    "ann_ivf_index_save",
    "ann_ivf_persisted_topk",
    "ann_ivf_topk",
]


def _grouped(s, _sf_dir):
    return s.range(100).groupBy((F.col("id") % 7).alias("k")).count()


def test_run_entry_counts_the_jobs_of_its_group(spark):
    group = "test_bench_core:grouped"
    seconds, jobs = bench.run_entry(spark, _grouped, "unused", group)
    sc = spark.sparkContext
    assert jobs == len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    assert seconds > 0
    # The caller's later jobs do not land in the entry's group.
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_time_entry_runs_reps_back_to_back(spark, monkeypatch):
    monkeypatch.setitem(bench.ENTRIES, "synthetic_grouped", _grouped)
    rec = bench.time_entry(spark, "synthetic_grouped", "unused")
    assert len(rec["samples"]) == bench.REPS == 2
    assert rec["min"] == min(rec["samples"])
    assert len(rec["jobs"]) == 2 and min(rec["jobs"]) >= 1


def test_entries_are_the_registry_plus_the_ivf_phases():
    want = sorted(set(QUERIES) | {"ann_ivf_build", "ann_ivf_index_save"})
    # Equality also fails on a stale override key: it would add an entry.
    assert list(bench.ENTRIES) == want
    assert set(bench.overrides) <= set(bench.ENTRIES)


def test_sorted_order_keeps_the_ivf_dependency_order():
    names = list(bench.ENTRIES)
    assert [names.index(n) for n in IVF_CHAIN] == sorted(
        names.index(n) for n in IVF_CHAIN
    )


@pytest.mark.parametrize(
    "entry, needs",
    [
        ("ann_ivf_index_save", "ann_ivf_build"),
        ("ann_ivf_topk", "ann_ivf_build"),
        ("ann_ivf_persisted_topk", "ann_ivf_build and ann_ivf_index_save"),
    ],
)
def test_ivf_step_without_its_build_names_the_missing_step(
    spark, sf_smoke, monkeypatch, entry, needs
):
    monkeypatch.setattr(bench, "_IVF", {})
    with pytest.raises(RuntimeError, match=f"{entry} needs {needs} to run first"):
        bench.run_entry(spark, bench.ENTRIES[entry], sf_smoke, f"test_bench_core:{entry}")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def _full(timings):
    return {
        "metric": "suite_seconds",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "runs": {k: {"samples": [v, v]} for k, v in timings.items()},
        "sf": 0.1,
    }


def test_stdout_line_fits_the_budget_and_keeps_every_failure():
    timings = {
        f"synthetic_registry_entry_{i:03d}": round(0.05 + 0.37 * i, 3)
        for i in range(306)
    }
    failed = sorted(timings)[::40]
    timings.update(dict.fromkeys(failed, -1.0))
    line = bench.stdout_line(_full(timings))
    assert len(line.encode()) <= 1900
    got = json.loads(line)
    assert set(got) == {
        "metric", "value", "unit", "queries", "sf", "queries_omitted", "full"
    }
    assert got["value"] == _full(timings)["value"]
    assert got["queries_omitted"] == 306 - len(got["queries"]) > 0
    assert all(got["queries"][k] == -1.0 for k in failed)
    # Trimming drops the fastest entries first.
    dropped = set(timings) - set(got["queries"])
    kept = [v for v in got["queries"].values() if v >= 0]
    assert max(timings[k] for k in dropped) <= min(kept)


def test_stdout_line_untrimmed_has_only_the_contract_keys():
    timings = {"a": 1.234, "b": -1.0}
    got = json.loads(bench.stdout_line(_full(timings)))
    assert got == {
        "metric": "suite_seconds",
        "value": 1.234,
        "unit": "sec",
        "queries": {"a": 1.23, "b": -1.0},
        "sf": 0.1,
    }
