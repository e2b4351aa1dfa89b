"""The event-log parser reads a log Spark records during the test."""

from __future__ import annotations

from pyspark.sql import SparkSession

from perfbench.tracing import find_event_log, parse_event_log


def test_parse_recorded_event_log(tmp_path):
    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("pb-7", "test")
        rows = spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 10
    finally:
        spark.stop()
    jobs = parse_event_log(find_event_log(str(events)))
    tagged = [j for j in jobs if j.group == "pb-7"]
    assert tagged
    assert sum(j.tasks for j in tagged) >= 2
    assert sum(j.shuffle_records for j in tagged) >= 10
    assert sum(j.shuffle_bytes for j in tagged) > 0
    assert all(j.end >= j.start > 0 for j in tagged)
    assert sum(j.task_s for j in tagged) >= 0 and sum(j.failed_tasks for j in jobs) == 0
