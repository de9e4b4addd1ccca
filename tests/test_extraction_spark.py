"""End-to-end golden equality of the Spark extraction vs the pure-Python twin.

The correctness gate of the north rule: exact per-turn extracted-text
equality under stable turn ordering, checked via an inner join on
(conv_id, turn_idx) with full-count verification (FIXTURES.md §3)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from marie_icr_spark.extractors.textnorm import TURN_JOIN
from marie_icr_spark.operators.assembly import assemble_conversations
from marie_icr_spark.operators.extraction import extract_turns, salt_repartition
from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts


@pytest.fixture(scope="module")
def synth(spark):
    tdf, gdf = synth_transcripts(n_convs=40, seed=42, hot_factor=30)
    sdf = spark.createDataFrame(tdf, schema=TRANSCRIPT_SCHEMA)
    return sdf, tdf, gdf


def test_golden_per_turn_equality(spark, synth):
    sdf, tdf, gdf = synth
    out = extract_turns(salt_repartition(sdf, 8, salt_buckets=16)).toPandas()
    assert len(out) == len(gdf)

    merged = out.merge(
        gdf, on=["conv_id", "turn_idx"], suffixes=("_out", "_gold"), how="inner"
    )
    assert len(merged) == len(gdf), "join must cover every golden turn"
    mism = merged[merged["extracted_text_out"] != merged["extracted_text_gold"]]
    assert len(mism) == 0, mism.head(5).to_string()
    assert (merged["span_count_out"] == merged["span_count_gold"]).all()
    assert (merged["payload_kind_out"] == merged["payload_kind_gold"]).all()


def test_layout_struct_schema(spark, synth):
    sdf, tdf, gdf = synth
    full = extract_turns(sdf, with_structs=True)
    layout = full.filter(F.col("payload_kind") == "layout")
    rows = layout.limit(50).collect()
    assert rows, "synth data must include layout turns"
    for r in rows:
        # word_index is sequential in (line, x) order; line ids are 1..N
        idxs = [w["word_index"] for w in r["words"]]
        assert idxs == sorted(idxs)
        line_ids = [ln["line"] for ln in r["lines"]]
        assert line_ids == list(range(1, len(line_ids) + 1))
        by_id = {w["id"]: w["text"] for w in r["words"]}
        for ln in r["lines"]:
            # wordids resolve to the line text in pick order
            # (ocr_processor.py:241-247: lines renumbered 1..N, words keep
            # their raw cluster line number)
            assert ln["text"] == " ".join(by_id[i] for i in ln["wordids"])


def test_struct_field_order_matches_extractor_tuples():
    """The Spark struct schemas (and the Arrow types derived from them)
    list their fields in the order of the extractor's word/line tuples."""
    from marie_icr_spark.extractors.layout import LINE_FIELDS, WORD_FIELDS
    from marie_icr_spark.operators.extraction import (
        _LINE_PA,
        _WORD_PA,
        LINE_TYPE,
        WORD_TYPE,
    )

    assert [f.name for f in WORD_TYPE.elementType.fields] == list(WORD_FIELDS)
    assert [f.name for f in LINE_TYPE.elementType.fields] == list(LINE_FIELDS)
    assert [f.name for f in _WORD_PA.value_type] == list(WORD_FIELDS)
    assert [f.name for f in _LINE_PA.value_type] == list(LINE_FIELDS)


def test_assembly_matches_pandas_golden(spark, synth):
    sdf, tdf, gdf = synth
    out = assemble_conversations(extract_turns(sdf), bucket_width=7).toPandas()

    g = (
        gdf.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["extracted_text"]
        .agg(TURN_JOIN.join)
        .reset_index()
    )
    merged = out.merge(g, on="conv_id")
    assert len(merged) == gdf["conv_id"].nunique()
    assert (merged["conversation_text"] == merged["extracted_text"]).all()
    # hot conversation 0 is intact despite bucketed two-phase aggregation
    hot = merged[merged["conv_id"] == "conv-00000000"].iloc[0]
    assert hot["turn_count"] == (gdf["conv_id"] == "conv-00000000").sum()


def test_extraction_plan_is_shuffle_free(spark, synth):
    sdf, tdf, gdf = synth
    plan = extract_turns(sdf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_salt_repartition_balances_hot_conversation(spark, synth):
    """The skew story (SURVEY §4): a hot conversation spread over salt
    buckets must not concentrate in one task partition."""
    from pyspark.sql import functions as F

    sdf, tdf, gdf = synth
    hot = sdf.filter(F.col("conv_id") == "conv-00000000")
    n_hot = hot.count()
    assert n_hot >= 50  # hot_factor guarantees this

    parts = (
        salt_repartition(hot, 16, salt_buckets=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = [r["count"] for r in parts]
    assert len(sizes) > 4, "hot conversation stayed in too few partitions"
    assert max(sizes) <= n_hot * 0.5, f"one partition holds too much: {sizes}"


def test_dedup_quoted_context(spark):
    from marie_icr_spark.operators.assembly import dedup_quoted_context

    df = spark.createDataFrame(
        [
            ("c", 0, "hello there\nhow are you"),
            ("c", 1, "how are you\nnew content line"),   # quotes turn 0
            ("c", 2, "new content line\nnew content line\nfresh"),  # dup kept twice? no — both repeat turn 1
            ("d", 0, "how are you"),                      # other conv untouched
        ],
        "conv_id string, turn_idx int, extracted_text string",
    )
    out = {(r["conv_id"], r["turn_idx"]): r for r in dedup_quoted_context(df).collect()}
    assert out[("c", 0)]["deduped_text"] == "hello there\nhow are you"
    assert out[("c", 1)]["deduped_text"] == "new content line"
    assert out[("c", 1)]["dropped_lines"] == 1
    assert out[("c", 2)]["deduped_text"] == "fresh"
    assert out[("c", 2)]["dropped_lines"] == 2
    assert out[("d", 0)]["deduped_text"] == "how are you"


def test_extract_turns_column_projection(spark, synth):
    """columns= pushes the projection through the mapInArrow boundary:
    results equal the full output projected, the parquet-side select
    shrinks to `text` alone, and unknown names fail loudly."""
    sdf, tdf, gdf = synth
    pruned = extract_turns(sdf, columns=("payload_kind", "span_count"))
    assert [f.name for f in pruned.schema.fields] == [
        "payload_kind", "span_count",
    ]
    full = (
        extract_turns(sdf)
        .groupBy("payload_kind")
        .agg(F.sum("span_count").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    lean = (
        pruned.groupBy("payload_kind")
        .agg(F.sum("span_count").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, lean.collect())
    )
    # the input side prunes to `text` alone: with a LocalRelation input the
    # optimizer folds the projection straight into the relation...
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    child = plan.split("\n+- ", 1)[1]
    assert "text#" in child
    for c in ("conv_id", "turn_idx", "role", "tool", "ts"):
        assert f"{c}#" not in child, (c, child)

    # keyed projection keeps passthroughs that were asked for
    keyed = extract_turns(sdf, columns=("conv_id", "turn_idx", "span_count"))
    assert [f.name for f in keyed.schema.fields] == [
        "conv_id", "turn_idx", "span_count",
    ]
    assert keyed.count() == len(gdf)

    with pytest.raises(ValueError, match="not in output schema"):
        extract_turns(sdf, columns=("nope",))
    # ...and with a parquet input the scan itself shrinks (the 100-TB
    # property: passthrough columns never leave the parquet reader)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        sdf.write.mode("overwrite").parquet(f"{d}/t")
        scan = extract_turns(
            spark.read.parquet(f"{d}/t"),
            columns=("payload_kind", "span_count"),
        )
        phys = scan._jdf.queryExecution().executedPlan().toString()
        rs = phys.split("ReadSchema: ")[1].splitlines()[0]
        assert "text" in rs and "conv_id" not in rs and "ts" not in rs, rs
    # struct projection: words without lines
    w = extract_turns(sdf, with_structs=True, columns=("payload_kind", "words"))
    assert [f.name for f in w.schema.fields] == ["payload_kind", "words"]
    assert w.filter(F.col("payload_kind") == "layout").limit(1).collect()


def test_with_meta_header(spark, synth):
    """meta header (ocr_processor.py:140-144): imageSize = grid envelope of
    the page's lines, page = turn_idx, pinned lang, lines inventory."""
    from marie_icr_spark.operators.extraction import with_meta

    sdf, tdf, gdf = synth
    e = with_meta(extract_turns(sdf, with_structs=True))
    rows = e.filter(F.col("payload_kind") == "layout").limit(50).collect()
    assert rows
    saw_multiline = False
    for r in rows:
        m = r["meta"]
        assert m["page"] == r["turn_idx"]
        assert m["lang"] == "en"
        assert m["lines"] == len(r["lines"])
        assert m["lines_bboxes"] == [ln["bbox"] for ln in r["lines"]]
        if r["lines"]:
            assert m["imageSize"]["width"] == max(
                ln["bbox"][0] + ln["bbox"][2] for ln in r["lines"]
            )
            assert m["imageSize"]["height"] == max(
                ln["bbox"][1] + ln["bbox"][3] for ln in r["lines"]
            )
            saw_multiline = saw_multiline or len(r["lines"]) > 1
    assert saw_multiline
    # non-layout turns carry an empty inventory, not a crash
    empty = e.filter(F.col("payload_kind") == "plain").limit(5).collect()
    for r in empty:
        assert r["meta"]["imageSize"]["width"] == 0
        assert r["meta"]["lines"] == 0
