"""Tests for the benchmark's event-log aggregator and span arithmetic.

    python3 -m pytest perfbench/test_eventlog.py -q    # from the repo root
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import aggregate, aggregate_file  # noqa: E402
from spans import Span, self_times  # noqa: E402


def test_two_job_groups_from_a_local_session(tmp_path):
    """One narrow job and one shuffle job, each in its own job group."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("spark.jobGroup.id", "narrow")
        spark.range(1000, numPartitions=4).write.format("noop").mode(
            "overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", "shuffle")
        (spark.range(10_000, numPartitions=4)
         .groupBy((F.col("id") % 7).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.stop()

    logs = glob.glob(str(log_dir / "*"))
    assert len(logs) == 1
    groups = aggregate_file(logs[0])
    narrow, shuffle = groups["narrow"], groups["shuffle"]
    assert (narrow.jobs, narrow.stages, narrow.tasks) == (1, 1, 4)
    assert narrow.shuffle_write_bytes == narrow.shuffle_read_bytes == 0
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (1, 2, 4 + 3)
    assert shuffle.shuffle_write_bytes > 0
    assert shuffle.shuffle_read_bytes == shuffle.shuffle_write_bytes
    assert narrow.task_s >= 0 and shuffle.task_skew >= 1.0


def _task(stage, run_ms, gc_ms=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                         "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill},
    })


def test_aggregate_attributes_stages_and_skew():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Stage IDs": [0, 1],
                    "Properties": {"spark.jobGroup.id": "g"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 0}, "Properties": {}}),
        _task(0, 100), _task(0, 100), _task(0, 400, gc_ms=50, spill=10),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Stage IDs": [2], "Properties": {}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 2}}),
        _task(2, 7),
    ]
    groups = aggregate(lines)
    g, none = groups["g"], groups[None]
    # stage 0 has no group property of its own: its job's group applies
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 3)
    assert g.task_s == pytest.approx(0.6) and g.gc_s == pytest.approx(0.05)
    assert g.spill_bytes == 20
    assert g.task_skew == 4.0
    assert (none.jobs, none.tasks, none.task_skew) == (1, 1, 1.0)


def test_self_time_subtracts_overlapping_children_once():
    parent = Span(1, "p", 1, None, 0.0, 10.0)
    kids = [Span(2, "a", 1, 1, 1.0, 4.0), Span(3, "b", 1, 1, 3.0, 6.0),
            Span(4, "c", 1, 1, 8.0, 9.0)]
    own = self_times([parent, *kids])
    assert own[1] == 10.0 - 5.0 - 1.0
    assert own[2] == 3.0
