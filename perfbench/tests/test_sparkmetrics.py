"""The plan walker, on a tiny extraction query."""

from pyspark.sql import functions as F

import sparkmetrics as sm


def _transcripts(spark, n=200):
    rows = []
    for i in range(n):
        if i % 3 == 0:
            text = f"<html><body><p>turn {i} body</p></body></html>"
        elif i % 3 == 1:
            text = f"# title {i}\n\nsome markdown text {i}\n"
        else:
            text = f"plain   text {i}"
        rows.append((f"conv-{i % 7}", i, "user", text, "", None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).repartition(3)


def _query(spark):
    from marie_icr_spark.operators.assembly import assemble_conversations
    from marie_icr_spark.operators.extraction import extract_turns

    return assemble_conversations(extract_turns(_transcripts(spark))).agg(
        F.count(F.lit(1)), F.sum("turn_count")
    )


def test_plan_walk_unwraps_aqe_and_query_stages(spark):
    df = _query(spark)
    assert df.collect()[0][1] == 200
    nodes = sm.plan_nodes(df)
    names = [n["node"] for n in nodes]
    assert "AdaptiveSparkPlan" not in names
    assert not any(n.endswith("QueryStage") for n in names)
    arrow = [n for n in nodes if n["node"] == "MapInArrow"]
    assert len(arrow) == 1
    assert arrow[0]["metrics"][sm.ROWS] == 200
    assert arrow[0]["metrics"][sm.PY_SENT] > 0
    lay = sm.layers(nodes, python_node="MapInArrow")
    assert lay["rows"] == 200
    assert lay["exchanges"] >= 2  # the two aggregation phases of assembly
    assert lay["shuffle_records"] > 0
    # the MapInArrow pipeline's aggregate is not counted as aggregate time;
    # the walk puts it in a different pipeline from the post-shuffle ones
    pipes = {p for n in nodes for p in n["pipelines"]}
    assert len(pipes) >= 3


def test_plan_walk_without_unwrapping_sees_nothing(spark):
    df = _query(spark)
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    assert root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    assert root.metrics().isEmpty()


def test_percentile_nearest_rank():
    assert sm.percentile([], 0.5) == 0.0
    assert sm.percentile([3, 1, 2], 0.5) == 2
    assert sm.percentile(list(range(1, 101)), 0.99) == 99
    assert sm.percentile([5], 0.99) == 5
