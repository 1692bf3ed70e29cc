"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""
import json
import math

import pytest

import eventlog
import run
import stats

MB = 1024 * 1024


def _task(stage, run_ms=0, cpu_ns=0, gc_ms=0, launch=0, finish=0,
          getting=0, deser=0, ser=0, acc=(), metrics=True, ok=True, **tm):
    e = {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
         "Task Info": {"Launch Time": launch, "Finish Time": finish,
                       "Getting Result Time": getting, "Failed": not ok,
                       "Accumulables": [{"ID": i, "Name": n, "Update": str(u)}
                                        for i, n, u in acc]}}
    if metrics:
        e["Task Metrics"] = {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                             "Executor Deserialize Time": deser,
                             "Result Serialization Time": ser, **tm}
    return e


CANNED = [
    {"Event": "org.apache.spark.sql.execution.ui."
              "SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [
         {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
             {"name": "number of output rows", "accumulatorId": 7},
             {"name": "data sent to Python workers", "accumulatorId": 8}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "extract"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.jobGroup.id": "extract"}},
    _task(0, run_ms=1000, cpu_ns=5e8, gc_ms=100, launch=0, finish=1300,
          deser=100, ser=50,
          acc=[(8, "data sent to Python workers", MB),
               (9, "data returned from Python workers", MB)],
          **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * MB}}),
    # job 1 lists stage 1 again (skipped) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "resolve"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
     "Properties": {"spark.jobGroup.id": "resolve"}},
    _task(2, run_ms=500, launch=0, finish=700, getting=600,
          acc=[(7, "number of output rows", 42)],
          **{"Shuffle Read Metrics": {"Remote Bytes Read": MB,
                                      "Local Bytes Read": MB},
             "Disk Bytes Spilled": 3 * MB}),
    _task(2, launch=0, finish=10, metrics=False, ok=False),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {}},
]


def test_fold_canned_event_log(tmp_path):
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    g = eventlog.fold_file(str(path))
    ext, res = g["extract"], g["resolve"]
    assert ext["jobs"] == 1 and ext["tasks"] == 1
    assert ext["task_s"] == pytest.approx(1.0)
    assert ext["cpu_s"] == pytest.approx(0.5)
    assert ext["gc_s"] == pytest.approx(0.1)
    # 1300 ms on the clock, 1000 running, 150 deserializing/serializing
    assert ext["wait_s"] == pytest.approx(0.15)
    assert ext["shuffle_write_mb"] == pytest.approx(2.0)
    assert ext["python_mb"] == pytest.approx(2.0)
    assert ext["udf_rows"] == 0 and ext["failed_tasks"] == 0
    assert res["jobs"] == 1 and res["tasks"] == 2 and res["failed_tasks"] == 1
    # 100 ms scheduler delay + 100 ms fetching the result
    assert res["wait_s"] == pytest.approx(0.2)
    assert res["shuffle_read_mb"] == pytest.approx(2.0)
    assert res["spill_mb"] == pytest.approx(3.0)
    assert res["udf_rows"] == 42
    assert g[eventlog.NO_GROUP]["jobs"] == 1


@pytest.mark.parametrize("n,level", [(10, None), (19, None), (20, 50.0),
                                     (40, 75.0), (100, 90.0), (199, 90.0),
                                     (200, 95.0), (1000, 99.0),
                                     (10000, 99.9)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    got = stats.tail([float(i) for i in range(1, n + 1)])
    if level is None:
        assert got is None
    else:
        assert got[0] == level and got[2] == n
        assert sum(1 for i in range(1, n + 1) if i > got[1]) >= 10


def test_tail_value_is_nearest_rank():
    assert stats.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0, 20)


def test_raising_call_counts_failed_and_misses_latency():
    calls = stats.Calls()
    for call in (lambda: 1.0, lambda: 2.0, lambda: 1 / 0):
        dt, _, bad = run.attempt(call, lambda: {}, pin={})
        calls.fail() if bad else calls.ok(dt)
    assert (calls.attempted, calls.failed) == (3, 1)
    assert calls.failed_frac == pytest.approx(1 / 3)
    assert calls.p50() == 2.0
    calls.fail()
    assert calls.p50() == math.inf  # half the calls missed any limit


def test_output_mismatch_counts_failed():
    pin = {"triples": [10, 5], "ops": {"a": [1, 2]}}
    assert run.attempt(lambda: 1.0, lambda: {"triples": [10, 5]}, pin) \
        == (1.0, 0.0, [])
    assert run.attempt(lambda: 1.0, lambda: {"triples": [10, 6]}, pin)[2] \
        == ["triples"]
    assert run.attempt(lambda: 1.0, lambda: {"ops": {"a": [1, 3]}}, pin)[2] \
        == ["ops.a"]
    assert run.attempt(lambda: 1.0, lambda: {"triples": [1, 1]}, None)[2] \
        == ["(no pin)"]


def test_window_fold_counts_jobs_outside_layers():
    def job(jid, group, at, stage):
        return [{"Event": "SparkListenerJobStart", "Job ID": jid,
                 "Submission Time": at, "Stage IDs": [stage],
                 "Properties": {"spark.jobGroup.id": group}},
                _task(stage, run_ms=at // 10, launch=at + 10,
                      finish=at + 20 + at // 10)]
    events = (job(0, "extract", 1000, 0) + job(1, "bench", 2000, 1)
              + job(2, "resolve", 9000, 2))
    lines = [json.dumps(e) for e in events]
    g = eventlog.fold(lines, windows=[(900, 2500)])
    assert set(g) == {"extract", "bench"}  # job 2 started after the window
    att = run.attribution(g, ("extract", "resolve"))
    assert att["trace.unattributed_jobs"][0] == 1
    assert att["trace.span_coverage"][0] == pytest.approx(100 / 300)
    assert run.attribution(eventlog.fold(lines, windows=[(0, 1500)]),
                           ("extract",))["trace.span_coverage"][0] == 1.0
