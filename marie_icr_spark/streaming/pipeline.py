"""Structured Streaming ingestion of transcript turns.

The reference's "streaming" is request streaming + job polling
(``marie/serve/runtimes/gateway/request_handling.py:253-298``,
``marie/scheduler/psql.py:242-289``) — here re-expressed as a real
incremental pipeline:

* ``stream_extract_atomic``: file-source ``readStream`` over the transcript
  table → the same shuffle-free ``mapInArrow`` extraction as batch (the
  operator is engine-agnostic) → ``foreachBatch`` commit of each
  micro-batch through the manifest-swap catalog (plans/manifest.py). A
  plain parquet sink makes a micro-batch's files visible one by one, so a
  reader (or a crash mid-write) sees partial batches; the manifest swap
  makes each micro-batch visible whole or not at all;
* ``stream_kind_counts``: watermarked sliding-window aggregation of turns
  per payload kind (late-data semantics the reference lacks entirely).

Tests drive both with ``trigger(availableNow=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_turns
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .format("parquet")
        .option("path", input_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load()


def stream_extract_atomic(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
    mode: str = "sparse",
):
    """readStream → extraction → ATOMIC manifest-swap sink.

    Each micro-batch becomes visible in one CURRENT-pointer swap
    (``plans.manifest.commit_stream_batch``): readers via
    ``plans.manifest.read_results`` see whole batches or nothing — the
    streaming twin of ``run_extraction_job_atomic``. Replayed epochs
    re-commit idempotently (fresh run dir, same epoch keys; orphans go to
    ``vacuum``).
    """
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    extracted = extract_turns(stream, mode=mode)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..plans.manifest import commit_stream_batch

        commit_stream_batch(batch_df, batch_id, output_dir, n_buckets=n_buckets)

    writer = (
        extracted.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_kind_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
    available_now: bool = False,
    sink_name: str = "kind_counts_sink",
):
    """Watermarked (sliding) window counts of turns per payload kind.

    Returns (query, memory_sink_name); read results from the in-memory sink
    table.

    Output-mode caveat: THIS function uses ``complete`` mode because its
    sink is the in-memory test/demo table and a bounded ``availableNow``
    run must flush every window (append would hold back windows newer than
    the final watermark) — in complete mode Spark keeps all window state
    and still aggregates late rows, so this exact form is NOT the unbounded
    10^12-turn shape. The production-shaped twins are
    :func:`stream_sessionize` (update mode) and
    :func:`stream_extract_atomic` (foreachBatch): put this aggregation behind ``outputMode("append")`` +
    a real sink and the declared watermark then does drop late rows and
    bound state to the open windows.
    """
    stream = read_transcript_stream(spark, input_dir)
    extracted = extract_turns(stream)  # carries ts through
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    agg = (
        extracted.withWatermark("ts", watermark)
        .groupBy(win, "payload_kind")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum("span_count").alias("total_spans"),
        )
    )
    name = sink_name
    # complete mode for the in-memory sink: append would hold back windows
    # newer than the final watermark (correct for an unbounded stream, but a
    # bounded availableNow run needs every window flushed)
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("complete")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), name


def stream_conversation_state(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    sink_name: str = "conv_state_sink",
):
    """Custom stateful operator: per-conversation running extraction totals.

    ``applyInPandasWithState`` keyed on conv_id accumulates
    (turns_seen, spans_total, max_turn_idx) across micro-batches — the
    streaming twin of the reference's per-document progress tracking
    (JobSupervisor, marie/job/job_manager.py). State is O(#conversations),
    not O(#turns): bounded by design.

    Returns (query, memory_sink_name).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_transcript_stream(spark, input_dir)
    extracted = extract_turns(stream)

    out_schema = (
        "conv_id string, turns_seen long, spans_total long, max_turn_idx int"
    )
    state_schema = "turns long, spans long, max_idx int"

    def update(key, pdfs, state):
        turns, spans, max_idx = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            turns += len(pdf)
            spans += int(pdf["span_count"].sum())
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, spans, max_idx))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turns_seen": [turns],
                "spans_total": [spans],
                "max_turn_idx": [max_idx],
            }
        )

    updates = extracted.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = sink_name
    writer = (
        updates.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), name


def stream_session_windows(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    sink_name: str = "session_sink",
):
    """Native session-window aggregation over an event stream.

    ``F.session_window(ts, gap)`` keeps per-key session state that MERGES
    across micro-batches — events of one session arriving in different
    batches coalesce into a single window (the stateful part a batch
    gaps-and-islands window cannot express incrementally). Event time must
    be TIMESTAMP (cast TIMESTAMP_NTZ upstream). The watermark is set far
    out (the bounded availableNow harness must never drop a "late" row —
    input files are not time-ordered); a production stream would pass a
    real lateness bound instead. Complete-mode memory sink for the same
    reason as :func:`stream_kind_counts`. Returns (query, sink_name).
    """
    batch = spark.read.parquet(input_dir)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    writer = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("complete")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink_name


def stream_dedup_turns(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    sink_name: str = "dedup_sink",
    watermark: str | None = "2 hours",
):
    """Streaming exact dedup on the turn key: each (conv_id, turn_idx) is
    emitted exactly once no matter how many times — or in how many
    micro-batches — it arrives (at-least-once upstream delivery → effective
    exactly-once emission).

    The DEFAULT is the bounded-state form: ``withWatermark(ts, watermark)``
    + ``dropDuplicatesWithinWatermark`` — per-key state is evicted once the
    watermark passes its event time, so state stays O(keys-per-horizon)
    on an eternal 10^12-turn stream instead of growing forever. The
    contract that buys: a replay arriving WITHIN the horizon is
    suppressed; a duplicate key arriving after eviction is re-emitted
    (pinned in tests). Pass ``watermark=None`` for the unbounded
    ``dropDuplicates`` form (exact dedup over any replay distance — the
    replay-oracle harness uses an effectively-unbounded horizon instead).
    Append-mode memory sink. Returns (query, sink_name).
    """
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    if watermark is None:
        deduped = stream.dropDuplicates(["conv_id", "turn_idx"])
    else:
        deduped = stream.withWatermark(
            "ts", watermark
        ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    writer = (
        deduped.select("conv_id", "turn_idx", "role")
        .writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink_name
