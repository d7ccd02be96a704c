"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog, host
from perfbench.stats import tail_percentile
from perfbench.tally import Tally, check_events


# -- the "ten samples beyond it" percentile rule --------------------------- #


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(range(19)) is None
    t = tail_percentile(range(20))
    assert (t["p"], t["n"], t["beyond"]) == (50.0, 20, 10)
    assert t["value"] == 9


def test_tail_percentile_climbs_the_ladder_with_the_sample_count():
    t = tail_percentile(range(100))
    assert (t["p"], t["value"], t["n"], t["beyond"]) == (90.0, 89, 100, 10)
    t = tail_percentile(range(1000))
    assert (t["p"], t["value"], t["beyond"]) == (99.0, 989, 10)
    t = tail_percentile(range(10_000))
    assert (t["p"], t["beyond"]) == (99.9, 10)


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


# -- event-log parser on a small canned log -------------------------------- #


def _canned_log() -> list[str]:
    ev = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "exec.run_warm#3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000, "JVM GC Time": 20,
            "Result Size": 100, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 500_000_000, "JVM GC Time": 0,
            "Result Size": 50,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 200}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        # stage 1 was skipped: never completes, runs no task
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "exec.run_warm#4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250, "Executor CPU Time": 0, "JVM GC Time": 0, "Result Size": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 40, "Local Bytes Read": 60},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    return [json.dumps(e) for e in ev] + [""]


def test_event_log_totals_per_group():
    groups = eventlog.parse(_canned_log())
    g3 = groups["exec.run_warm#3"]
    assert (g3["jobs"], g3["stages"], g3["tasks"]) == (1, 1, 2)
    assert g3["executor_run_s"] == pytest.approx(2.0)
    assert g3["executor_cpu_s"] == pytest.approx(1.5)
    assert g3["gc_s"] == pytest.approx(0.02)
    assert g3["shuffle_write_bytes"] == 500
    assert g3["spill_bytes"] == 12
    assert g3["result_bytes"] == 150
    assert groups["exec.run_warm#4"]["shuffle_read_bytes"] == 100
    assert groups[None]["jobs"] == 1 and groups[None]["stages"] == 1


def test_event_log_folds_calls_into_layers(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(_canned_log()) + "\n")
    layers = eventlog.by_layer(eventlog.parse_path(str(tmp_path)))
    assert layers["exec.run_warm"]["jobs"] == 2
    assert layers["exec.run_warm"]["tasks"] == 3
    assert layers["other"]["jobs"] == 1


# -- fail_share accounting ------------------------------------------------- #


def test_each_failure_counts_once_against_attempts():
    t = Tally()
    for op in ("corr:0", "corr:1", "tx1", "tx2", "tx3"):
        t.attempt(op)
    t.fail("corr:1", "drain r1 got 900 of 1100 rows in 60.0 s")  # short drain
    t.fail("tx2", "reply (500, 'TIMEOUT') != (200, 'SUCCEEDED')")  # wrong reply code
    check_events(
        t,
        {"tx1": "SUCCEEDED", "tx2": "SUCCEEDED", "tx3": "FAILED"},
        [("tx1", "SUCCEEDED", "e1"), ("tx2", "SUCCEEDED", "e2"),
         ("tx3", "FAILED", "e3"), ("tx3", "FAILED", "e3")],  # tx3 duplicated
    )
    assert t.attempted == 5
    assert t.failed == 3
    assert t.fail_share == pytest.approx(3 / 5)
    assert set(t.failures()) == {"corr:1", "tx2", "tx3"}
    assert len(t.failures()["tx3"]) == 2  # two checks, one failed op


def test_missing_wrong_and_unknown_events_fail():
    t = Tally()
    for op in ("a", "b"):
        t.attempt(op)
    check_events(t, {"a": "SUCCEEDED", "b": "FAILED"},
                 [("a", "FAILED", "e1"), ("zz", "SUCCEEDED", "e2")])
    assert set(t.failures()) == {"a", "b", "event:zz"}
    assert t.attempted == 3 and t.failed == 3


def test_attempting_an_op_twice_is_an_error():
    t = Tally()
    t.attempt("x")
    with pytest.raises(ValueError):
        t.attempt("x")
    assert Tally().fail_share == 0.0


def test_steal_share_is_stolen_over_all_cpu_time():
    start = {"cpu_s": 100.0, "steal_s": 5.0}
    assert host.steal_share(start, {"cpu_s": 140.0, "steal_s": 9.0}) == pytest.approx(0.1)
    assert host.steal_share(start, start) == 0.0
