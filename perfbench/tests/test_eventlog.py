"""The event-log parser, against the plan walker on the same query."""

import os

from conftest import make_session
from test_sparkmetrics import _query

import sparkmetrics as sm


def test_event_log_agrees_with_plan_and_splits_groups(tmp_path):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = make_session(str(tmp_path))
    try:
        app = spark.sparkContext.applicationId
        spark.sparkContext.setJobGroup("q#0", "q")
        df = _query(spark)
        df.collect()
        walked = sm.layers(sm.plan_nodes(df), python_node="MapInArrow")
        spark.sparkContext.setJobGroup("other#0", "other")
        spark.range(50).repartition(2).count()
    finally:
        spark.stop()
    log = sm.EventLog(os.path.join(str(tmp_path), app))
    from_log = sm.layers(log.nodes("q#0"), python_node="MapInArrow")
    for k in ("rows", "bytes_sent", "bytes_received", "shuffle_bytes", "shuffle_records"):
        assert from_log[k] == walked[k], k
    assert sm.layers(log.nodes("other#0"))["rows"] == 0
    assert log.jobs("q#0") >= 1 and log.jobs("other#0") >= 1
    summ = sm.task_summary(log, ["q#0"], python_node="MapInArrow")
    assert summ["tasks"] == len(log.group_tasks("q#0")) > 0
    assert summ["failures"] == 0
    assert summ["python_task_skew"] >= 1.0
    assert summ["task_ms_p50"] <= summ["task_ms_p99"]
    every = sm.task_summary(log, ["q#0", "other#0"])
    assert every["tasks"] > summ["tasks"]
