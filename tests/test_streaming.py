"""Structured Streaming: incremental extraction + watermarked windows."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from marie_icr_spark.plans import manifest as M
from marie_icr_spark.plans.lineage import read_lineage
from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts
from marie_icr_spark.streaming.pipeline import (
    stream_extract_atomic,
    stream_kind_counts,
)


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    tdf, gdf = synth_transcripts(n_convs=25, seed=11, hot_factor=5)
    path = str(tmp_path_factory.mktemp("stream_in"))
    # two files → at least one micro-batch each under maxFilesPerTrigger
    spark.createDataFrame(tdf, schema=TRANSCRIPT_SCHEMA).repartition(2).write.mode(
        "overwrite"
    ).parquet(path)
    return path, tdf, gdf


def test_stream_extract_commits_all_turns(spark, stream_input, tmp_path_factory):
    path, tdf, gdf = stream_input
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    q = stream_extract_atomic(spark, path, out, ckpt, available_now=True)
    q.awaitTermination(120)

    res = M.read_results(spark, out).toPandas()
    assert len(res) == len(gdf)
    merged = res.merge(gdf, on=["conv_id", "turn_idx"], suffixes=("_o", "_g"))
    assert len(merged) == len(gdf)
    assert (merged["extracted_text_o"] == merged["extracted_text_g"]).all()

    lineage = read_lineage(spark, out).toPandas()
    assert lineage["turn_count"].sum() == len(gdf)
    assert (lineage["status"] == "completed").all()


def test_stream_windowed_kind_counts(spark, stream_input, tmp_path_factory):
    path, tdf, gdf = stream_input
    ckpt = str(tmp_path_factory.mktemp("wm_ckpt"))
    q, sink = stream_kind_counts(
        spark, path, ckpt, window="1 minute", watermark="2 minutes",
        available_now=True,
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {sink}").toPandas()

    # golden: batch computation of the same windowed aggregate
    g = gdf.merge(tdf[["conv_id", "turn_idx", "ts"]], on=["conv_id", "turn_idx"])
    g["window_start"] = g["ts"].dt.floor("1min")
    expected = (
        g.groupby(["window_start", "payload_kind"])
        .agg(turn_count=("conv_id", "size"), total_spans=("span_count", "sum"))
        .reset_index()
    )
    got["window_start"] = (
        pd.to_datetime(got["window"].map(lambda w: w["start"]))
        .dt.tz_localize("UTC")
    )
    merged = expected.merge(
        got[["window_start", "payload_kind", "turn_count", "total_spans"]],
        on=["window_start", "payload_kind"],
        suffixes=("_e", "_s"),
        how="outer",
        indicator=True,
    )
    # complete mode flushes every window
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"]
    assert (merged["turn_count_e"] == merged["turn_count_s"]).all()
    assert (merged["total_spans_e"] == merged["total_spans_s"]).all()


def test_stream_conversation_state(spark, stream_input, tmp_path_factory):
    from marie_icr_spark.streaming.pipeline import stream_conversation_state

    path, tdf, gdf = stream_input
    ckpt = str(tmp_path_factory.mktemp("state_ckpt"))
    q, sink = stream_conversation_state(spark, path, ckpt, available_now=True)
    q.awaitTermination(120)
    got = spark.sql(
        f"SELECT conv_id, max(turns_seen) turns_seen, max(spans_total) spans_total,"
        f" max(max_turn_idx) max_turn_idx FROM {sink} GROUP BY conv_id"
    ).toPandas()

    expected = (
        gdf.groupby("conv_id")
        .agg(
            turns_seen=("turn_idx", "size"),
            spans_total=("span_count", "sum"),
            max_turn_idx=("turn_idx", "max"),
        )
        .reset_index()
    )
    merged = expected.merge(got, on="conv_id", suffixes=("_e", "_s"))
    assert len(merged) == len(expected)
    for c in ("turns_seen", "spans_total", "max_turn_idx"):
        assert (merged[f"{c}_e"] == merged[f"{c}_s"]).all(), c


def test_stream_session_windows_merge_across_batches(spark, tmp_path_factory):
    """A session whose events arrive in DIFFERENT micro-batches must come
    out as ONE window (session state merging, not per-batch sessions)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from marie_icr_spark.streaming.pipeline import stream_session_windows

    base = str(tmp_path_factory.mktemp("sess_merge"))
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def rows(*minutes):
        return [(1, t0 + dt.timedelta(minutes=m)) for m in minutes]

    schema = "user_id long, ts timestamp"
    # file A: minutes 0, 10; file B: minutes 20, 120 — one session (0..20,
    # gap 30) split across files, plus a separate later session
    spark.createDataFrame(rows(0, 10), schema).coalesce(1).write.parquet(
        f"{base}/in"
    )
    spark.createDataFrame(rows(20, 120), schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")

    q, sink = stream_session_windows(
        spark, f"{base}/in", f"{base}/ckpt", gap_minutes=30,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination()
    got = sorted(
        (
            r["session_window"]["start"].minute
            + 60 * r["session_window"]["start"].hour,
            r["n_events"],
        )
        for r in spark.table(sink).collect()
    )
    assert got == [(0, 3), (120, 1)]


def test_stream_dedup_watermark_bounds_state(spark, tmp_path_factory):
    """The DEFAULT bounded-state dedup (dropDuplicatesWithinWatermark):
    a replayed key WITHIN the watermark horizon is suppressed; a key
    re-occurring after its state was evicted is re-emitted. That eviction
    is exactly what keeps state O(keys-per-horizon) on an eternal stream
    instead of O(all keys ever seen)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from marie_icr_spark.streaming.pipeline import stream_dedup_turns

    base = str(tmp_path_factory.mktemp("dedup_wm"))
    inp = f"{base}/in"
    os.makedirs(inp)
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    t10h = t0 + dt.timedelta(hours=10)

    def write_file(rows, name, mtime):
        tmp = f"{base}/tmp_{name}"
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dest = f"{inp}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # batch A: key (c1,0) at t0; an in-batch duplicate key (c3,1); a row at
    # t0+10h that advances the watermark far past c1's eviction point
    write_file(
        [
            ("c1", 0, "user", "a", None, t0),
            ("c3", 1, "user", "b", None, t0 + dt.timedelta(minutes=5)),
            ("c3", 1, "user", "b", None, t0 + dt.timedelta(minutes=6)),
            ("c2", 0, "user", "c", None, t10h),
        ],
        "a", 1_000_000_000,
    )
    # batch B (mtime order + maxFilesPerTrigger=1): (c2,0) replays within
    # the horizon → suppressed. State eviction runs at END of this batch
    # (watermark t0+9h passed c1's t0+1h expiration), so...
    write_file(
        [
            ("c2", 0, "user", "c", None, t10h),
        ],
        "b", 1_000_000_100,
    )
    # ...batch C: (c1,0) re-occurs AFTER eviction → re-emitted
    write_file(
        [
            ("c1", 0, "user", "a", None, t10h),
        ],
        "c", 1_000_000_200,
    )

    q, sink = stream_dedup_turns(
        spark, inp, f"{base}/ckpt", available_now=True,
        max_files_per_trigger=1, sink_name="dd_wm_sink", watermark="1 hour",
    )
    q.awaitTermination(120)
    counts = (
        spark.table(sink)
        .groupBy("conv_id", "turn_idx")
        .count()
        .toPandas()
        .set_index(["conv_id", "turn_idx"])["count"]
        .to_dict()
    )
    assert counts == {("c1", 0): 2, ("c2", 0): 1, ("c3", 1): 1}
