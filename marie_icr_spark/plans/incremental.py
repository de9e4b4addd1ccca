"""CDC-driven incremental corpus curation.

At 100 TB a corpus is never rebuilt from scratch: new conversations
arrive and existing ones grow. The expensive half of curation — the
Python payload parse inside extract → assemble → quality → language ID
(``corpus.stage_convs``) — is per-conversation, so only AFFECTED
conversations need to re-run it; the cheap global half (exact dedup,
near-dup components, sampling — ``corpus.finalize_corpus``) re-runs over
the merged stage. The pre-dedup stage lives in the atomic catalog
(``plans.manifest``), which is also where the affected set comes from:
``read_incremental``'s manifest diff IS the change feed.

Equivalence contract (certified by the ``corpus_incremental`` oracle,
which is literally the full-recompute ``corpus_pipeline`` SQL): because
``finalize_corpus`` is deterministic in the stage CONTENT alone,

    curate_incremental(all_turns, affected, stage_dir)
        == build_corpus(all_turns)

whenever the stage table holds ``stage_convs`` of the pre-delta turns
and ``affected`` covers every conversation whose turn set changed.

Scale shape: the affected set is a broadcast semi-join filter on the
transcript scan (bucket/partition pruning reaches the source at scale),
the stage merge is one anti-join + union committed through the
manifest-swap catalog, and the global half's joins are the
already-audited bucketed equi-join shapes. Compute is O(delta) for the
parse-heavy half and O(corpus) only for hash-level stages. The reference
processes work incrementally per job/asset (marie/scheduler/*,
extract_pipeline.py) — this is that contract at table granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus as C
from .manifest import (
    commit_table,
    current_version,
    load_manifest,
    read_incremental,
    read_results,
)

#: stage-table certification columns (content-bearing, engine-portable)
STAGE_HASH_COLS = ("conv_id", "conversation_text", "pred_lang")

#: final-corpus certification columns — MUST match
#: jobs/run_corpus_pipeline.py so the two CLIs can share an output
#: catalog (mixed certifications are refused by commit_table)
CORPUS_HASH_COLS = ("conv_id", "conversation_text")

#: canonical stage-table columns (one definition — the merge, the
#: read-back and the CLI all select exactly these)
STAGE_COLS = (
    "conv_id", "conversation_text", "turn_count", "n_tokens",
    "quality", "pred_lang",
)


def affected_convs_from_cdc(
    spark: SparkSession,
    results_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Conversations whose extracted turns may have changed since
    ``from_version`` of a manifest-catalog results table. Output: one
    ``conv_id`` column, distinct; granularity is the commit bucket (a
    superset of the truly-changed conversations).

    Both sides of the diff matter: :func:`..manifest.read_incremental`
    yields the NEW rows of changed buckets — but a conversation DELETED
    upstream emits nothing there (its bucket's remaining rows re-commit
    without it, or the bucket key is tombstoned outright), so the OLD
    version's rows of every changed-or-removed bucket are unioned in.
    Without that, a deleted conversation would survive in the stage
    forever and the incremental == full-recompute contract would silently
    break on the first takedown. Cost still scales with the delta: only
    changed buckets are read, on both versions (partition-pruned)."""
    # Resolve CURRENT exactly once: letting read_incremental and the
    # manifest load below each resolve it independently opens a window
    # where a concurrent commit (the streaming sink is a supported
    # concurrent writer) makes new_rows and new_m describe DIFFERENT
    # versions — buckets changed in between would silently drop out of
    # the affected set.
    if to_version is None:
        to_version = current_version(results_dir)
    new_rows = read_incremental(spark, results_dir, from_version, to_version)
    old_m = load_manifest(results_dir, from_version)
    new_m = load_manifest(results_dir, to_version)

    def _live(m: dict) -> set[int]:
        return {
            int(k.split("/")[-1])
            for k, e in m["buckets"].items()
            if e["run_id"] is not None and e["turn_count"] > 0
        }

    removed = _live(old_m) - _live(new_m)
    changed = (
        new_rows.select(F.col("bucket").cast("int").alias("bucket"))
        .distinct()
    )
    old_rows = read_results(spark, results_dir, version=from_version)
    old_side = old_rows.join(changed, "bucket", "left_semi")
    if removed:
        # emptied buckets have no new row to name them
        old_side = old_side.unionByName(
            old_rows.filter(F.col("bucket").isin(sorted(removed)))
        )
    old_side = old_side.select("conv_id")
    return (
        new_rows.select("conv_id").unionByName(old_side).distinct()
    )


def commit_stage(
    stage: DataFrame, stage_dir: str, n_buckets: int = 64
) -> dict:
    """Commit a pre-dedup stage frame (``corpus.stage_convs`` output) to
    the atomic catalog keyed by conv_id."""
    return commit_table(
        stage,
        stage_dir,
        key_col="conv_id",
        n_buckets=n_buckets,
        hash_cols=STAGE_HASH_COLS,
    )


def curate_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    affected_convs: DataFrame,
    stage_dir: str,
    min_quality: float = C.MIN_QUALITY,
    jaccard_threshold: float | None = C.JACCARD_THRESHOLD,
    rates: dict[str, float] | None = None,
    default_rate: float = C.SAMPLE_DEFAULT_RATE,
    sample_salt: str = C.SAMPLE_SALT,
    mode: str = "sparse",
    n_buckets: int = 64,
    persist_handles: list | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Incrementally update the curated corpus for a set of affected
    conversations.

    ``transcripts`` must contain ALL turns of every conversation in
    ``affected_convs`` (a grown conversation re-assembles from its full
    turn set; rows of unaffected conversations are ignored, so passing
    the full table is always correct — at scale, pass the
    partition-pruned affected subset). The per-conversation stages run
    ONLY over those conversations; the stage table at ``stage_dir`` is
    merged (affected rows replaced — including dropped: a conversation
    now failing the quality gate disappears) and committed as a new
    catalog version; the global half re-runs over the merged stage and
    returns the final corpus (same schema/content as
    ``build_corpus(all_turns)``).
    """
    # no broadcast hint on the affected set: it is unbounded (a
    # source-wide change marks most buckets), so let AQE pick
    # broadcast-vs-shuffle from the actual size at runtime
    affected = affected_convs.select("conv_id").distinct()
    delta_turns = transcripts.join(affected, "conv_id", "left_semi")
    recurated = C.stage_convs(delta_turns, min_quality=min_quality, mode=mode)

    # read_results carries the catalog's `bucket` partition column — drop
    # it before the merge (commit_stage re-derives it). A never-committed
    # stage catalog (version 0) has no recorded schema, so read_results
    # would fall back to the EXTRACTION schema and the select would fail
    # on the stage columns — bootstrap from an empty stage-shaped frame
    # instead (incremental over an empty catalog == full build of the
    # affected set, which is exactly the merge semantics).
    if stage_version(stage_dir) == 0:
        old_stage = recurated.select(*STAGE_COLS).limit(0)
    else:
        old_stage = read_results(spark, stage_dir).select(*STAGE_COLS)
    merged = old_stage.join(affected, "conv_id", "left_anti").unionByName(
        recurated.select(*STAGE_COLS)
    )
    commit_stage(merged, stage_dir, n_buckets=n_buckets)

    # read the committed snapshot back: the certified path is
    # catalog → finalize (and parquet round-trips doubles exactly)
    stage = read_results(spark, stage_dir).select(*STAGE_COLS)
    persisting = persist_handles is not None
    if persisting:
        from pyspark import StorageLevel

        stage = stage.persist(StorageLevel.MEMORY_AND_DISK)
        persist_handles.append(stage)
        stage.count()
    return C.finalize_corpus(
        stage,
        jaccard_threshold=jaccard_threshold,
        rates=rates,
        default_rate=default_rate,
        sample_salt=sample_salt,
        persist_handles=persist_handles,
        checkpoint_dir=checkpoint_dir,
    )


def stage_version(stage_dir: str) -> int:
    """CURRENT version of the stage catalog (0 if absent)."""
    try:
        return int(load_manifest(stage_dir)["version"])
    except FileNotFoundError:
        return 0
