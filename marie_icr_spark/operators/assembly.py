"""Conversation reassembly: ordered per-turn texts → per-conversation text.

Twin of the reference's page reassembly — frames enumerated in page order and
joined with ``"\\f"`` (``marie/renderer/text_renderer.py:158-172``; SURVEY.md
§2.5 W6) — expressed as a **two-phase ordered aggregation** so a hot
conversation (millions of turns) never lands in a single reducer:

phase 1: group by (conv_id, bucket = turn_idx // bucket_width) — each bucket
         holds at most ``bucket_width`` turns, so partial state is bounded
         and the pre-aggregation spreads hot conv_ids across the cluster;
phase 2: group by conv_id over the (few) bucket partials, ordered by bucket.

Both phases are hash aggregations with map-side partials; ordering inside a
group uses ``sort_array`` over (key, text) structs — deterministic, no window
shuffle of raw turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractors.textnorm import TURN_JOIN

DEFAULT_BUCKET_WIDTH = 256


def assemble_conversations(
    extracted: DataFrame,
    text_col: str = "extracted_text",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """(conv_id, turn_idx, text) → (conv_id, conversation_text, turn_count).

    ``conversation_text`` is the turn texts in ascending turn_idx order
    joined with the page separator ``"\\f"``.
    """
    bucket = (F.col("turn_idx") / bucket_width).cast("long")
    partial = (
        extracted.select("conv_id", "turn_idx", text_col)  # prune pre-shuffle
        .withColumn("_bucket", bucket)
        .groupBy("conv_id", "_bucket")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
                TURN_JOIN,
            ).alias("_part"),
            F.count(F.lit(1)).alias("_cnt"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_bucket"), F.col("_part")))
                    ),
                    lambda s: s["_part"],
                ),
                TURN_JOIN,
            ).alias("conversation_text"),
            F.sum("_cnt").alias("turn_count"),
        )
    )


def segment_conversations(
    transcripts: DataFrame, boundary_role: str = "system"
) -> DataFrame:
    """Conversation split detection (SURVEY §2.9 N2 — the reference tags
    per-page ``split`` markers, ``marie/components/document_splitter/
    transformers.py:121-229``): a turn with ``boundary_role`` starts a new
    segment; segment_id = running count of boundaries in turn order.
    Output: input + (segment_id int)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return transcripts.withColumn(
        "segment_id",
        F.sum(F.when(F.col("role") == boundary_role, 1).otherwise(0))
        .over(w)
        .cast("int"),
    )


def dedup_quoted_context(
    extracted: DataFrame, text_col: str = "extracted_text"
) -> DataFrame:
    """Drop lines that verbatim repeat a line of the previous turn.

    Agent transcripts re-quote prior context (FIXTURES.md §2 markdown noise);
    per conversation, a turn's output keeps only lines absent from the
    immediately preceding turn's line set. Pure Column ops over a lag
    window: split → filter(not array_contains(prev)) → join (duplicates
    within the current turn are preserved, unlike array_except).

    Output: input + (deduped_text string, dropped_lines int).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lines = F.split(F.col(text_col), "\n")
    prev = F.lag(lines).over(w)
    kept = F.when(
        prev.isNull() | (F.col(text_col) == ""), lines
    ).otherwise(F.filter(lines, lambda l: ~F.array_contains(prev, l)))
    return (
        extracted.withColumn("_kept", kept)
        .withColumn(
            "dropped_lines",
            (F.size(lines) - F.size("_kept")).cast("int"),
        )
        .withColumn(
            "deduped_text",
            F.when(F.col(text_col) == "", F.lit("")).otherwise(
                F.array_join("_kept", "\n")
            ),
        )
        .drop("_kept")
    )
