"""The event-log fold: pinned on a hand-written log and on a real
two-stage Spark query."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def _props(group):
    return {"spark.jobGroup.id": group} if group else {}


def _task(stage, run_ms, cpu_ns, write=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def test_fold_hand_written_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": _props("q:a")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": _props("q:a")},
        _task(0, 100, 50_000_000, write=300),
        _task(0, 300, 70_000_000, write=200),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": _props("q:a")},
        _task(1, 200, 10_000_000, read=500),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
         "Stage IDs": [2], "Properties": _props("q:a")},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [3], "Properties": _props(None)},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3100},
    ]
    path = tmp_path / "events_1_app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = eventlog.fold([str(path)])

    a = groups["q:a"]
    assert a.jobs == [(1.0, 1.5), (1.4, 2.0)]
    assert (a.stages, a.tasks) == (2, 3)
    assert a.executor_run_s == pytest.approx(0.6)
    assert a.executor_cpu_s == pytest.approx(0.13)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes) == (500, 500)
    assert a.job_union_s(0.0, 10.0) == pytest.approx(1.0)  # overlap counted once
    assert a.job_union_s(1.2, 1.6) == pytest.approx(0.4)   # clipped to window
    assert a.stage_skew() == pytest.approx(1.5)            # 300 / median(100, 300)
    assert groups[""].jobs == [(3.0, 3.1)]


def test_log_files_reads_v2_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (2, 1, 10):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_fold_real_two_stage_query(tmp_path):
    """A groupBy over four input partitions runs a map stage and a reduce
    stage under one job group; the fold must see both, with every byte
    written by the map side read by the reduce side."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", str(log_dir))
        .getOrCreate()
    )
    try:
        spark.sparkContext.setJobGroup("tiny", "tiny")
        rows = (spark.range(0, 1000, numPartitions=4)
                .groupBy((F.col("id") % 7).alias("k")).count().collect())
        assert len(rows) == 7
    finally:
        spark.stop()
    g = eventlog.fold(eventlog.log_files(str(log_dir)))["tiny"]
    assert len(g.jobs) == 1
    assert g.stages == 2
    assert g.tasks == 4 + 3
    assert g.shuffle_write_bytes > 0
    assert g.shuffle_read_bytes == g.shuffle_write_bytes
    start, end = g.jobs[0]
    assert g.job_union_s(start - 1, end + 1) == pytest.approx(end - start)
