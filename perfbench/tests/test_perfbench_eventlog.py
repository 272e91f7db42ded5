"""The Spark event-log reader behind the spark.* per-layer metrics."""

import json

import pytest

import eventlog


def _task(stage, launch, finish, run_ms, sw=0, sr=0, inp=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Input Metrics": {"Bytes Read": inp},
        },
    }


def _lines():
    evs = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "op-00001 create"}},
        _task(0, 1001, 1100, 90, sw=300, inp=1000),
        _task(1, 1101, 1400, 250, sr=300),
        _task(1, 1101, 1500, 300, sr=0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1450,
         "Stage IDs": [2], "Properties": {"spark.job.description": "op-00001 create"}},
        _task(2, 1460, 1600, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000,
         "Stage IDs": [3], "Properties": {}},
        _task(3, 2001, 2002, 1),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2010},
    ]
    return [json.dumps(e) for e in evs]


def test_groups_by_description():
    g = eventlog.parse(_lines())
    assert set(g) == {"op-00001 create", ""}
    op = g["op-00001 create"]
    assert len(op.jobs) == 2 and len(op.tasks) == 4
    st = op.stage_totals()
    assert st[1]["tasks"] == 2 and st[1]["run_ms"] == 550
    assert st[1]["shuffle_read"] == 300 and st[1]["last_finish_ms"] == 1500
    assert st[0]["shuffle_write"] == 300
    assert sum(t.input_bytes for t in op.tasks) == 1000
    assert sum(t.spill for t in op.tasks) == 20
    assert op.tasks[1].cpu_ns == 125_000_000


def test_covered_ms_unions_overlapping_jobs():
    op = eventlog.parse(_lines())["op-00001 create"]
    # jobs [1000,1500] and [1450,1700] overlap: 700 ms covered
    assert op.covered_ms(900, 2000) == pytest.approx(700)
    # clipped to the op's own interval
    assert op.covered_ms(1200, 1600) == pytest.approx(400)


def test_log_file_wants_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.log_file(str(tmp_path))
    (tmp_path / "local-1").write_text("\n".join(_lines()))
    assert len(eventlog.read(str(tmp_path))) == 2
