"""Atomic manifest-swap commit: kill at ANY point → readers never see a
partial commit (SURVEY §4 Iceberg-snapshot contract; VERDICT r2 Missing #2).

Reference parity target: the transactional complete/fail of the scheduler
(``/root/reference/marie/scheduler/psql.py:811-868``) — work becomes visible
all-or-nothing per commit unit.
"""

import json
import os

import pytest

from marie_icr_spark.plans import manifest as M
from marie_icr_spark.plans.lineage import SimulatedFailure
from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts

N_BUCKETS = 8
PER_COMMIT = 2  # → 4 commit units on a full run


@pytest.fixture(scope="module")
def sdf(spark):
    tdf, _ = synth_transcripts(n_convs=30, seed=7, hot_factor=10)
    return spark.createDataFrame(tdf, schema=TRANSCRIPT_SCHEMA)


def _collect_sorted(spark, path, version=None):
    df = M.read_results(spark, path, version=version).toPandas()
    return (
        df.sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .reindex(sorted(df.columns), axis=1)
    )


def _verify_manifest_vs_data(spark, out):
    """Every committed bucket's on-disk hash/counts equal its manifest entry
    — i.e. the manifest never points at data that isn't fully there."""
    from pyspark.sql import functions as F

    m = M.load_manifest(out)
    if not m["buckets"]:
        return
    rec = {
        int(r["bucket"]): r
        for r in M.read_results(spark, out)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("span_count").alias("s"),
            F.format_string(
                "%x",
                F.bit_xor(
                    F.xxhash64(
                        F.col("conv_id"), F.col("turn_idx"), F.col("extracted_text")
                    )
                ),
            ).alias("h"),
        )
        .collect()
    }
    # keys may be plain ("<b>") or epoch-scoped ("<epoch>/<b>"): entries of
    # one bucket sum (counts) / XOR (hashes) — disjoint row sets combine
    want: dict[int, tuple[int, int, int]] = {}
    for k, ent in m["buckets"].items():
        b = int(k.split("/")[-1])
        t, s, h = want.get(b, (0, 0, 0))
        want[b] = (
            t + ent["turn_count"],
            s + ent["span_count"],
            h ^ int(ent["partition_hash"], 16),
        )
    for b, (t, s, h) in want.items():
        if t == 0:
            assert b not in rec
            continue
        assert rec[b]["n"] == t
        assert int(rec[b]["s"]) == s
        assert int(rec[b]["h"], 16) == h


def test_full_run_then_reader_sees_everything(spark, sdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("atomic_full"))
    summary = M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert sorted(summary["buckets_processed"]) == list(range(N_BUCKETS))
    assert summary["manifest_version"] == N_BUCKETS // PER_COMMIT
    assert len(_collect_sorted(spark, out)) == sdf.count()
    _verify_manifest_vs_data(spark, out)


@pytest.mark.parametrize("kill_after", [1, 2, 3])
def test_kill_at_every_commit_boundary(spark, sdf, tmp_path_factory, kill_after):
    """Kill after k commit units: readers see EXACTLY the first k units'
    buckets (old-version consistency), never a partial unit; resume converges
    to the uninterrupted result byte-for-byte."""
    ref_dir = str(tmp_path_factory.mktemp("atomic_ref"))
    M.run_extraction_job_atomic(
        spark, sdf, ref_dir, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    reference = _collect_sorted(spark, ref_dir)

    out = str(tmp_path_factory.mktemp(f"atomic_kill{kill_after}"))
    with pytest.raises(SimulatedFailure):
        M.run_extraction_job_atomic(
            spark, sdf, out, n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=kill_after,
        )
    # visibility is exactly the killed run's committed units
    m = M.load_manifest(out)
    assert m["version"] == kill_after
    assert len(m["buckets"]) == kill_after * PER_COMMIT
    _verify_manifest_vs_data(spark, out)
    visible = _collect_sorted(spark, out)

    summary = M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert sorted(summary["buckets_skipped"]) == sorted(
        int(b) for b in m["buckets"]
    )
    final = _collect_sorted(spark, out)
    assert final.equals(reference)
    # the killed-run snapshot is still readable (time travel to old version)
    assert _collect_sorted(spark, out, version=kill_after).equals(visible)
    _verify_manifest_vs_data(spark, out)


def test_crash_before_first_commit_is_invisible(spark, sdf, tmp_path_factory):
    """A run that dies after WRITING data but before any manifest swap leaves
    version 0: readers see an empty table, the orphan dir is vacuumable."""
    out = str(tmp_path_factory.mktemp("atomic_orphan"))
    with pytest.raises(SimulatedFailure):
        M.run_extraction_job_atomic(
            spark, sdf, out, n_buckets=N_BUCKETS,
            buckets_per_commit=N_BUCKETS, fail_after_commits=0,
        )
    assert M.current_version(out) == 0
    assert M.read_results(spark, out).count() == 0
    orphans = os.listdir(os.path.join(out, "data"))
    assert len(orphans) == 1  # the dead run's dir, never referenced
    removed = M.vacuum(out)
    assert len(removed) == 1
    # resume from nothing converges to the full result
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert len(_collect_sorted(spark, out)) == sdf.count()
    _verify_manifest_vs_data(spark, out)


def test_snapshot_upgrade_crash_keeps_old_version_consistent(
    spark, sdf, tmp_path_factory
):
    """The window an in-place parquet writer leaves open: input changes
    (new snapshot), the upgrading run crashes mid-way — readers on CURRENT
    still see the OLD snapshot's complete state; nothing is purged."""
    out = str(tmp_path_factory.mktemp("atomic_upgrade"))
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    old_state = _collect_sorted(spark, out)
    old_version = M.current_version(out)

    sdf2 = sdf.filter("turn_idx % 3 != 0")  # the source changed
    with pytest.raises(SimulatedFailure):
        M.run_extraction_job_atomic(
            spark, sdf2, out, n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=1,
        )
    # mixed manifest: 1 unit on the new snapshot, rest still old — but every
    # entry is internally consistent and fully on disk
    _verify_manifest_vs_data(spark, out)
    # the pre-upgrade version is still fully readable
    assert _collect_sorted(spark, out, version=old_version).equals(old_state)

    M.run_extraction_job_atomic(
        spark, sdf2, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    ref_dir = str(tmp_path_factory.mktemp("atomic_upgrade_ref"))
    M.run_extraction_job_atomic(
        spark, sdf2, ref_dir, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert _collect_sorted(spark, out).equals(_collect_sorted(spark, ref_dir))


def test_single_extraction_pass_over_source(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """The 100-TB contract: one extraction plan / one source scan per run,
    regardless of how many commit units follow."""
    from marie_icr_spark.operators import extraction as X

    calls = {"n": 0}
    real = X.extract_turns

    def counting(df, *a, **kw):
        calls["n"] += 1
        return real(df, *a, **kw)

    monkeypatch.setattr(X, "extract_turns", counting)
    out = str(tmp_path_factory.mktemp("atomic_onepass"))
    summary = M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert summary["commits"] == N_BUCKETS // PER_COMMIT
    assert calls["n"] == 1, "source must be extracted in a single pass"


def test_bucket_emptied_by_new_snapshot_reads_empty(spark, tmp_path_factory):
    """A bucket with rows under snapshot A and ZERO rows under snapshot B
    reads back empty (no stale snapshot-A rows stay visible) and is
    committed as a zero-count entry, so resume treats it as done."""
    from pyspark.sql import functions as F

    from marie_icr_spark.plans.lineage import read_lineage

    tdf, _ = synth_transcripts(n_convs=20, seed=3, hot_factor=4)
    full = spark.createDataFrame(tdf, schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("atomic_emptied"))
    M.run_extraction_job_atomic(spark, full, out, n_buckets=4)
    keep_bucket = 0
    before = M.load_manifest(out)["buckets"]
    assert any(
        e["turn_count"] > 0 for k, e in before.items() if k != str(keep_bucket)
    )
    # new snapshot: keep only conversations landing in one bucket
    reduced = (
        M.with_bucket(full, 4).filter(F.col("bucket") == keep_bucket).drop("bucket")
    )
    assert 0 < reduced.count() < full.count()
    summary = M.run_extraction_job_atomic(spark, reduced, out, n_buckets=4)
    assert sorted(summary["buckets_processed"]) == list(range(4))

    res = M.read_results(spark, out)
    assert res.count() == reduced.count(), "stale rows from snapshot A survived"
    assert {r["bucket"] for r in res.select("bucket").distinct().collect()} == {
        keep_bucket
    }
    snap = summary["source_snapshot_id"]
    entries = M.load_manifest(out)["buckets"]
    for b in range(4):
        if b == keep_bucket:
            continue
        assert entries[str(b)]["snapshot"] == snap
        assert entries[str(b)]["turn_count"] == 0
        assert entries[str(b)]["run_id"] is None
    lin = (
        read_lineage(spark, out)
        .filter(F.col("source_snapshot_id") == snap)
        .toPandas()
    )
    assert set(lin["bucket"]) == set(range(4))
    assert (lin[lin["bucket"] != keep_bucket]["turn_count"] == 0).all()
    _verify_manifest_vs_data(spark, out)


def test_empty_source_completes_with_zero_rows(spark, tmp_path_factory):
    """A zero-row source completes cleanly (no parquet schema-inference
    crash), commits zero-count entries, and its rerun is a no-op."""
    from marie_icr_spark.plans.lineage import read_lineage

    empty = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("atomic_empty_source"))
    summary = M.run_extraction_job_atomic(spark, empty, out, n_buckets=4)
    assert sorted(summary["buckets_processed"]) == list(range(4))
    entries = M.load_manifest(out)["buckets"]
    assert {int(k) for k in entries} == set(range(4))
    assert all(e["turn_count"] == 0 for e in entries.values())
    lin = read_lineage(spark, out).toPandas()
    assert set(lin["bucket"]) == set(range(4))
    assert (lin["turn_count"] == 0).all()
    version = M.current_version(out)

    summary2 = M.run_extraction_job_atomic(spark, empty, out, n_buckets=4)
    assert summary2["buckets_processed"] == []
    assert summary2["commits"] == 0
    assert M.current_version(out) == version
    assert M.read_results(spark, out).count() == 0


def test_commit_conflict_detected(tmp_path):
    out = str(tmp_path)
    base = {"version": 0, "buckets": {}}
    M._commit_manifest(out, base, {"0": {
        "run_id": "a", "snapshot": "s", "partition_hash": "0",
        "turn_count": 0, "span_count": 0}})
    with pytest.raises(M.CommitConflict):
        M._commit_manifest(out, base, {"1": {
            "run_id": "b", "snapshot": "s", "partition_hash": "0",
            "turn_count": 0, "span_count": 0}})


def test_vacuum_reclaims_only_orphans(spark, sdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("atomic_vacuum"))
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    before = _collect_sorted(spark, out)
    # plant an orphan run dir (a crashed run that never committed)
    orphan = os.path.join(out, "data", "deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("x")
    removed = M.vacuum(out)
    assert orphan in removed
    assert _collect_sorted(spark, out).equals(before)
    # manifest still loads and CURRENT untouched
    assert M.load_manifest(out)["version"] == M.current_version(out)


def test_manifest_file_is_complete_json(spark, sdf, tmp_path_factory):
    """No partially-written manifest is ever referenced: the CURRENT version
    always parses and carries every field."""
    out = str(tmp_path_factory.mktemp("atomic_json"))
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    v = M.current_version(out)
    for ver in range(1, v + 1):
        with open(M._manifest_path(out, ver)) as f:
            m = json.load(f)
        assert m["version"] == ver
        for ent in m["buckets"].values():
            assert set(ent) == {
                "run_id", "snapshot", "partition_hash", "turn_count",
                "span_count",
            }


# -- exactly-once streaming sink through the manifest catalog ----------------

def test_stream_extract_atomic_multi_epoch(spark, sdf, tmp_path_factory):
    from pyspark.sql import functions as F

    from marie_icr_spark.streaming.pipeline import stream_extract_atomic

    base = str(tmp_path_factory.mktemp("stream_atomic"))
    inp, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    sdf.repartition(6).write.parquet(inp)
    q = stream_extract_atomic(
        spark, inp, out, ckpt, available_now=True, n_buckets=4,
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    m = M.load_manifest(out)
    epochs = {k.split("/")[0] for k in m["buckets"]}
    assert len(epochs) >= 2, "must exercise the multi-micro-batch path"
    got = M.read_results(spark, out)
    assert got.count() == sdf.count()
    # manifest sums equal written data per (epoch-summed) bucket
    by_bucket = {}
    for k, e in m["buckets"].items():
        b = int(k.split("/")[-1])
        by_bucket[b] = by_bucket.get(b, 0) + e["turn_count"]
    rec = {int(r["bucket"]): r["n"] for r in
           got.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_bucket == rec


def test_stream_replayed_epoch_is_idempotent(spark, sdf, tmp_path_factory):
    """A replayed micro-batch (restart between sink write and streaming
    checkpoint) re-commits the SAME epoch keys over a fresh run dir: visible
    rows unchanged, superseded dir orphaned and vacuumable."""
    import os as _os

    from marie_icr_spark.operators.extraction import extract_turns
    from marie_icr_spark.plans.manifest import commit_stream_batch

    out = str(tmp_path_factory.mktemp("stream_replay"))
    batch = extract_turns(sdf)
    commit_stream_batch(batch, 7, out, n_buckets=4)
    v1 = M.current_version(out)
    before = M.read_results(spark, out).toPandas()
    n_dirs_before = len(_os.listdir(_os.path.join(out, "data")))

    commit_stream_batch(batch, 7, out, n_buckets=4)  # the replay
    assert M.current_version(out) == v1 + 1
    after = M.read_results(spark, out).toPandas()
    cols = sorted(before.columns)
    pd = __import__("pandas")
    pd.testing.assert_frame_equal(
        before.sort_values(cols).reset_index(drop=True).reindex(cols, axis=1),
        after.sort_values(cols).reset_index(drop=True).reindex(cols, axis=1),
    )
    assert len(_os.listdir(_os.path.join(out, "data"))) == n_dirs_before + 1
    removed = M.vacuum(out)
    assert len([p for p in removed if "/data/" in p]) == 1  # the orphan
    assert M.read_results(spark, out).count() == len(after)


# -- snapshot compaction ------------------------------------------------------

def _two_epoch_table(spark, sdf, out):
    """Commit the extraction output as two micro-batch epochs (2 run dirs,
    epoch-scoped keys)."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=N_BUCKETS)
    M.commit_stream_batch(batch.filter(~half), 1, out, n_buckets=N_BUCKETS)


def test_compact_collapses_epochs(spark, sdf, tmp_path_factory):
    import os as _os

    out = str(tmp_path_factory.mktemp("compact"))
    _two_epoch_table(spark, sdf, out)
    before = _collect_sorted(spark, out)
    v = M.current_version(out)
    assert len(_os.listdir(_os.path.join(out, "data"))) == 2

    m = M.compact(spark, out)
    assert m["version"] == v + 1
    # keys collapsed to plain bucket ids, one live run dir
    assert all("/" not in k for k in m["buckets"])
    assert len({e["run_id"] for e in m["buckets"].values()}) == 1
    after = _collect_sorted(spark, out)
    import pandas as pd
    pd.testing.assert_frame_equal(before, after)
    _verify_manifest_vs_data(spark, out)
    # old epoch dirs became orphans; vacuum removes exactly those two
    removed = M.vacuum(out)
    assert len([p for p in removed if f"{_os.sep}data{_os.sep}" in p]) == 2
    pd.testing.assert_frame_equal(before, _collect_sorted(spark, out))
    # time-travel to the pre-compaction version is gone only because vacuum
    # ran; compaction itself kept it (checked before vacuum via `before`)


def test_compact_partial_bucket_range(spark, sdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact_part"))
    _two_epoch_table(spark, sdf, out)
    before = _collect_sorted(spark, out)
    pick = [0, 1, 2, 3]
    m = M.compact(spark, out, buckets=pick)
    plain = {k for k in m["buckets"] if "/" not in k}
    assert plain == {str(b) for b in pick}
    # unselected buckets keep their epoch-scoped keys
    assert any("/" in k for k in m["buckets"])
    import pandas as pd
    pd.testing.assert_frame_equal(before, _collect_sorted(spark, out))
    _verify_manifest_vs_data(spark, out)
    # second pass compacts the rest
    M.compact(spark, out)
    m2 = M.load_manifest(out)
    assert all("/" not in k for k in m2["buckets"])
    pd.testing.assert_frame_equal(before, _collect_sorted(spark, out))


def test_compact_preserves_single_snapshot_resume(spark, sdf, tmp_path_factory):
    """Compacting a single-snapshot batch table keeps the snapshot ids, so a
    rerun still resumes as a no-op."""
    out = str(tmp_path_factory.mktemp("compact_resume"))
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    snaps = {e["snapshot"] for e in M.load_manifest(out)["buckets"].values()}
    M.compact(spark, out)
    m = M.load_manifest(out)
    assert {e["snapshot"] for e in m["buckets"].values()} == snaps
    summary = M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    assert summary["buckets_processed"] == []
    assert M.current_version(out) == m["version"]


def test_compact_integrity_abort_leaves_current(spark, sdf, tmp_path_factory):
    """A manifest that disagrees with its data (simulated corruption) makes
    compaction abort BEFORE the swap: CURRENT unchanged, orphan vacuumable."""
    import os as _os

    out = str(tmp_path_factory.mktemp("compact_bad"))
    _two_epoch_table(spark, sdf, out)
    v = M.current_version(out)
    # tamper: bump a turn_count in a NEW manifest version (as if a buggy
    # writer certified stats that the data doesn't back)
    m = M.load_manifest(out)
    k = sorted(k for k, e in m["buckets"].items() if e["turn_count"] > 0)[0]
    m["buckets"][k]["turn_count"] += 1
    M._commit_manifest(out, {"version": v, "buckets": m["buckets"]}, {})
    v2 = M.current_version(out)
    with pytest.raises(M.CompactionIntegrityError):
        M.compact(spark, out)
    assert M.current_version(out) == v2
    orphans = [p for p in M.vacuum(out) if f"{_os.sep}data{_os.sep}" in p]
    assert len(orphans) == 1  # the aborted compaction dir
    assert M.read_results(spark, out).count() > 0


# -- incremental (CDC-style) reads + schema evolution -------------------------

def test_read_incremental_batch_delta(spark, sdf, tmp_path_factory):
    """Consumer at version v gets exactly the buckets committed after v."""
    out = str(tmp_path_factory.mktemp("incr_batch"))
    try:
        M.run_extraction_job_atomic(
            spark, sdf, out, n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=2,
        )
    except SimulatedFailure:
        pass
    v_mid = M.current_version(out)
    assert v_mid == 2
    M.run_extraction_job_atomic(
        spark, sdf, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    v_end = M.current_version(out)

    full = M.read_results(spark, out).count()
    first = M.read_results(spark, out, version=v_mid).count()
    delta = M.read_incremental(spark, out, v_mid)
    assert delta.count() == full - first
    mid_buckets = {
        int(k) for k in M.load_manifest(out, v_mid)["buckets"]
    }
    got_buckets = {
        int(r["bucket"]) for r in delta.select("bucket").distinct().collect()
    }
    assert got_buckets.isdisjoint(mid_buckets)
    # from genesis = everything; from the tip = nothing
    assert M.read_incremental(spark, out, 0).count() == full
    assert M.read_incremental(spark, out, v_end).count() == 0


def test_read_incremental_stream_epochs_and_replay(spark, sdf, tmp_path_factory):
    from marie_icr_spark.operators.extraction import extract_turns
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("incr_stream"))
    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=N_BUCKETS)
    v1 = M.current_version(out)
    M.commit_stream_batch(batch.filter(~half), 1, out, n_buckets=N_BUCKETS)
    v2 = M.current_version(out)

    # delta v1→v2 is exactly epoch 1's rows
    assert M.read_incremental(spark, out, v1, v2).count() == (
        batch.filter(~half).count()
    )
    # a replayed epoch (identical recommit under a fresh run dir) is no delta
    M.commit_stream_batch(batch.filter(~half), 1, out, n_buckets=N_BUCKETS)
    assert M.read_incremental(spark, out, v2).count() == 0


def test_read_incremental_skips_pure_compaction(spark, sdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("incr_compact"))
    _two_epoch_table(spark, sdf, out)
    v = M.current_version(out)
    M.compact(spark, out)
    assert M.read_incremental(spark, out, v).count() == 0
    # and compacting a compacted (plain-key) table is also no delta
    v2 = M.current_version(out)
    M.compact(spark, out)
    assert M.read_incremental(spark, out, v2).count() == 0


def test_schema_evolution_across_runs(spark, sdf, tmp_path_factory):
    """A column added in a later run reads as null for earlier runs' rows —
    immutable files + union-time merge (Iceberg-style add-column)."""
    from marie_icr_spark.operators.extraction import extract_turns
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("schema_evo"))
    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=N_BUCKETS)
    M.commit_stream_batch(
        batch.filter(~half).withColumn("lang", F.lit("en")), 1, out,
        n_buckets=N_BUCKETS,
    )
    got = M.read_results(spark, out)
    assert "lang" in got.columns
    n_old = batch.filter(half).count()
    assert got.filter(F.col("lang").isNull()).count() == n_old
    assert got.filter(F.col("lang") == "en").count() == sdf.count() - n_old
    # incremental read across the evolution boundary also merges schemas
    inc = M.read_incremental(spark, out, 0)
    assert "lang" in inc.columns and inc.count() == sdf.count()


def test_compact_retries_past_concurrent_stream_commit(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """A streaming epoch that lands between compaction's read and its CAS
    does not abort it: the retry carries the new epoch keys forward and the
    final table holds both the compacted and the fresh rows."""
    from marie_icr_spark.operators.extraction import extract_turns
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("compact_race"))
    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=N_BUCKETS)

    real = M._commit_manifest
    state = {"injected": False}

    def racing(output_dir, base, updates):
        # compact()'s commit has plain keys; epoch commits have "<e>/<b>"
        if not state["injected"] and any("/" not in k for k in updates):
            state["injected"] = True
            M.commit_stream_batch(
                batch.filter(~half), 1, out, n_buckets=N_BUCKETS
            )
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    m = M.compact(spark, out)
    assert state["injected"]
    # epoch-1 keys carried forward next to the compacted plain keys
    assert any("/" in k for k in m["buckets"])
    assert any("/" not in k for k in m["buckets"])
    assert M.read_results(spark, out).count() == sdf.count()
    _verify_manifest_vs_data(spark, out)


def test_compact_aborts_if_merged_key_replaced_concurrently(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """If a merged key itself changed mid-compaction (epoch replay), the
    compacted dir no longer reflects the table: abort, CURRENT untouched by
    the compaction, orphan vacuumable."""
    from marie_icr_spark.operators.extraction import extract_turns
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("compact_race_bad"))
    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=N_BUCKETS)

    real = M._commit_manifest
    state = {"injected": False}

    def racing(output_dir, base, updates):
        if not state["injected"] and any("/" not in k for k in updates):
            state["injected"] = True
            # replay epoch 0: same keys, fresh run dir
            M.commit_stream_batch(
                batch.filter(half), 0, out, n_buckets=N_BUCKETS
            )
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    with pytest.raises(M.CompactionIntegrityError):
        M.compact(spark, out)
    # reader still consistent; the aborted compaction dir is an orphan
    assert M.read_results(spark, out).count() == batch.filter(half).count()
    _verify_manifest_vs_data(spark, out)
    orphans = [p for p in M.vacuum(out) if "compact-" in p]
    assert len(orphans) == 1


def test_commit_table_generic_schema_and_compact(spark, tmp_path_factory):
    """commit_table records its certification columns in the manifest's
    stats block; compact() recomputes the SAME certification for a
    non-extraction schema."""
    out = str(tmp_path_factory.mktemp("generic_tbl"))
    df = spark.createDataFrame(
        [(f"k{i}", f"text {i}", i % 5) for i in range(40)],
        "key string, body string, score int",
    )
    m = M.commit_table(
        df, out, key_col="key", n_buckets=4,
        hash_cols=("key", "body"), sum_col="score",
    )
    assert m["stats"] == {"hash_cols": ["key", "body"], "sum_col": "score"}
    got = M.read_results(spark, out)
    assert got.count() == 40
    assert sum(e["span_count"] for e in m["buckets"].values()) == sum(
        i % 5 for i in range(40)
    )
    # mixed-certification commits are refused (permanent misconfig →
    # ValueError, not the retryable CommitConflict)
    with pytest.raises(ValueError):
        M.commit_table(df, out, key_col="key", n_buckets=4,
                       hash_cols=("key",))
    # full-snapshot replace: second commit supersedes, old version readable
    M.commit_table(
        df.filter("score > 0"), out, key_col="key", n_buckets=4,
        hash_cols=("key", "body"), sum_col="score",
    )
    assert M.read_results(spark, out).count() == 32
    assert M.read_results(spark, out, version=1).count() == 40
    # compact with the recorded stats columns; reader unchanged
    m3 = M.compact(spark, out)
    assert m3["stats"] == {"hash_cols": ["key", "body"], "sum_col": "score"}
    assert M.read_results(spark, out).count() == 32
    # superseded run dirs reclaimed
    assert len([p for p in M.vacuum(out) if "data" in p]) >= 1
    assert M.read_results(spark, out).count() == 32


# -- review-hardening: crash recovery, tombstones, mixing guards --------------

def test_dead_writer_orphan_manifest_rolls_forward(spark, sdf, tmp_path_factory):
    """A writer that dies AFTER linking manifest-v<N+1> but BEFORE renaming
    CURRENT must not wedge the catalog: the next writer publishes the
    orphan and proceeds."""
    import json as _json

    out = str(tmp_path_factory.mktemp("orphan_manifest"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4,
                                buckets_per_commit=4)
    v1 = M.current_version(out)
    n1 = M.read_results(spark, out).count()

    # simulate the dead writer: a COMPLETE v2 manifest exists, CURRENT
    # still points at v1 (same content as v1 → publishing changes nothing
    # visible, which is exactly the idempotent-roll-forward contract)
    m = M.load_manifest(out)
    orphan = {"version": v1 + 1, "buckets": m["buckets"]}
    with open(M._manifest_path(out, v1 + 1), "w") as f:
        f.write(_json.dumps(orphan, sort_keys=True))
    # version files are committed-by-existence: readers roll forward over
    # the lagging pointer immediately (the pointer is a hint)
    assert M._pointer_version(out) == v1
    assert M.current_version(out) == v1 + 1

    # any writer entry repairs the pointer file and no-ops the data
    summary = M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4,
                                          buckets_per_commit=4)
    assert summary["buckets_processed"] == []
    assert M._pointer_version(out) == v1 + 1
    assert M.current_version(out) == v1 + 1
    assert M.read_results(spark, out).count() == n1


def test_commit_table_recommit_tombstones_empty_buckets(spark, tmp_path_factory):
    """Full-snapshot replace: buckets with no rows in the NEW snapshot must
    not leak the previous snapshot's rows."""
    out = str(tmp_path_factory.mktemp("tombstone"))
    a = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], "key string, v int"
    )
    M.commit_table(a, out, key_col="key", n_buckets=8)
    assert M.read_results(spark, out).count() == 64
    # second snapshot: a single row → 7 of 8 buckets empty
    b = spark.createDataFrame([("k0", 0)], "key string, v int")
    m = M.commit_table(b, out, key_col="key", n_buckets=8)
    assert M.read_results(spark, out).count() == 1
    assert sum(1 for e in m["buckets"].values() if e["run_id"] is None) == 7
    # previous snapshot still time-travelable; old run vacuumable after
    assert M.read_results(spark, out, version=1).count() == 64
    M.vacuum(out)
    assert M.read_results(spark, out).count() == 1


def test_stream_sink_refuses_batch_catalog(spark, sdf, tmp_path_factory):
    """The inverse guard (ADVICE r3): a streaming epoch committed next to
    batch-owned plain keys would double-emit those rows on read (and a
    later compact() would fold the duplicates in permanently) — refuse.
    Ownership follows the catalog, not the key shape: after the batch job
    takes over a compacted streaming catalog, streaming must refuse too."""
    from marie_icr_spark.operators.extraction import extract_turns

    batch = extract_turns(sdf)
    out = str(tmp_path_factory.mktemp("stream_guard_batch"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="batch-committed"):
        M.commit_stream_batch(batch, 0, out, n_buckets=N_BUCKETS)

    out2 = str(tmp_path_factory.mktemp("stream_guard_table"))
    M.commit_table(
        batch, out2, key_col="conv_id", hash_cols=("conv_id", "turn_idx")
    )
    with pytest.raises(ValueError, match="table-committed"):
        M.commit_stream_batch(batch, 0, out2, n_buckets=N_BUCKETS)

    # stream → compact → stream stays legal (origin survives the rewrite)
    out3 = str(tmp_path_factory.mktemp("stream_guard_compacted"))
    M.commit_stream_batch(batch, 0, out3, n_buckets=N_BUCKETS)
    M.compact(spark, out3)
    assert M._catalog_origin(M.load_manifest(out3)) == "stream"
    M.commit_stream_batch(batch.limit(0).union(batch), 1, out3,
                          n_buckets=N_BUCKETS)
    # ... but batch takeover of the compacted catalog flips ownership
    out4 = str(tmp_path_factory.mktemp("stream_guard_takeover"))
    M.commit_stream_batch(batch, 0, out4, n_buckets=N_BUCKETS)
    M.compact(spark, out4)
    M.run_extraction_job_atomic(spark, sdf, out4, n_buckets=N_BUCKETS)
    assert M._catalog_origin(M.load_manifest(out4)) == "batch"
    with pytest.raises(ValueError, match="batch-committed"):
        M.commit_stream_batch(batch, 2, out4, n_buckets=N_BUCKETS)


def test_batch_job_refuses_epoch_scoped_catalog(spark, sdf, tmp_path_factory):
    """run_extraction_job_atomic over a streaming-sink catalog would double
    every row (plain keys next to live epoch keys) — must refuse."""
    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("mixed_keys"))
    M.commit_stream_batch(extract_turns(sdf), 0, out, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="compact"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=N_BUCKETS)
    # after compaction the batch job is legal again (resume semantics)
    M.compact(spark, out)
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=N_BUCKETS)
    _verify_manifest_vs_data(spark, out)


def test_commit_table_refuses_default_certified_catalog(
    spark, sdf, tmp_path_factory
):
    """Absent stats on a non-empty manifest = extraction-default
    certification; committing different stats columns must refuse instead
    of silently re-labelling old entries."""
    out = str(tmp_path_factory.mktemp("stats_guard"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4,
                                buckets_per_commit=4)
    g = spark.createDataFrame([("x", 1)], "conv_id string, v int")
    # permanent misconfiguration → ValueError (CommitConflict is reserved
    # for retryable CAS races; a retry loop would orphan run dirs forever)
    with pytest.raises(ValueError, match="certified"):
        M.commit_table(g, out, key_col="conv_id", hash_cols=("conv_id",))


def test_generic_catalog_empty_reads_keep_schema(spark, tmp_path_factory):
    """The no-delta incremental read (and any empty read) of a generic
    table must have the TABLE's schema, not the extraction fallback."""
    out = str(tmp_path_factory.mktemp("empty_schema"))
    df = spark.createDataFrame(
        [("a", "hello", 0.5)], "key string, body string, score double"
    )
    M.commit_table(df, out, key_col="key", n_buckets=2)
    v = M.current_version(out)
    inc = M.read_incremental(spark, out, v)  # no delta
    assert inc.count() == 0
    assert "body" in inc.columns and "score" in inc.columns
    inc.select("body")  # must not raise AnalysisException


def test_vacuum_rolls_forward_before_reclaiming(spark, sdf, tmp_path_factory):
    """vacuum on a wedged catalog (complete orphan manifest, CURRENT
    behind) must publish first — never delete the orphan's run dir and
    leave the manifest publishable."""
    import json as _json

    out = str(tmp_path_factory.mktemp("vacuum_rollfwd"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4,
                                buckets_per_commit=4)
    v1 = M.current_version(out)
    n1 = M.read_results(spark, out).count()
    # dead writer: complete v2 pointing at the same data, CURRENT at v1
    m = M.load_manifest(out)
    with open(M._manifest_path(out, v1 + 1), "w") as f:
        f.write(_json.dumps({"version": v1 + 1, "buckets": m["buckets"]}))

    M.vacuum(out)
    assert M.current_version(out) == v1 + 1  # published, not orphaned
    assert M.read_results(spark, out).count() == n1  # data intact


def test_vacuum_reclaims_leaked_commit_tmp(spark, sdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vacuum_tmp"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4,
                                buckets_per_commit=4)
    leaked = os.path.join(
        M._commit_dir(out), "manifest-v9.json.tmp.deadbeef"
    )
    with open(leaked, "w") as f:
        f.write("{partial")
    removed = M.vacuum(out)  # must not raise on the tmp name
    assert leaked in removed
    assert M.read_results(spark, out).count() == sdf.count()


def test_batch_job_refuses_generic_certified_catalog(
    spark, sdf, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("batch_on_generic"))
    g = spark.createDataFrame([("x", "t", 1)], "conv_id string, body string, v int")
    M.commit_table(g, out, key_col="conv_id", n_buckets=2,
                   hash_cols=("conv_id", "body"))
    with pytest.raises(ValueError, match="certif"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4)


def test_vacuum_retention_policy(spark, sdf, tmp_path_factory):
    """keep_versions retains a time-travel window (older manifests + the
    run dirs they reference survive); min_age_seconds is a grace period
    that protects fresh files from a concurrent vacuum."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("vacuum_retention"))
    batch = extract_turns(sdf).select("conv_id", "turn_idx", "span_count")
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    kw = dict(key_col="conv_id", n_buckets=4,
              hash_cols=("conv_id", "turn_idx"))
    M.commit_table(batch.filter(half), out, **kw)      # v1
    M.commit_table(batch, out, **kw)                   # v2
    M.commit_table(batch.filter(~half), out, **kw)     # v3
    n_v2 = batch.count()

    # grace period: everything is younger than an hour — nothing reclaimed
    assert M.vacuum(out, min_age_seconds=3600) == []

    # keep the last 1 version before CURRENT: v2 stays time-travelable,
    # v1 (manifest + its now-unreferenced run dir) expires
    removed = M.vacuum(out, keep_versions=1)
    assert any("manifest-v1" in p for p in removed)
    assert M.read_results(spark, out, version=2).count() == n_v2
    with pytest.raises(FileNotFoundError):
        M.load_manifest(out, 1)

    # default vacuum then collapses the window to CURRENT only
    removed2 = M.vacuum(out)
    assert any("manifest-v2" in p for p in removed2)
    assert (
        M.read_results(spark, out).count() == batch.filter(~half).count()
    )
    _verify_generic_reads_ok(spark, out)


def _verify_generic_reads_ok(spark, out):
    m = M.load_manifest(out)
    live = {e["run_id"] for e in m["buckets"].values()
            if e["run_id"] is not None}
    data = os.path.join(out, "data")
    on_disk = set(os.listdir(data)) if os.path.isdir(data) else set()
    assert live <= on_disk, "manifest references vacuumed data"


def test_commit_table_concurrent_writers_cas_retry(
    spark, tmp_path_factory, monkeypatch
):
    """Two commit_table writers racing on one catalog: the loser's CAS
    conflict triggers a reload-and-retry on fresh state, and the final
    snapshot is exactly the last writer's (full-replace semantics) — no
    torn manifest, no leftover keys from the interleaved commit. A
    compaction over the survivor leaves the rows unchanged."""
    out = str(tmp_path_factory.mktemp("cas_race"))
    d1 = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "conv_id string, v int"
    )
    d2 = spark.createDataFrame([("z", 9)], "conv_id string, v int")
    kw = dict(key_col="conv_id", n_buckets=4, hash_cols=("conv_id",))

    real = M._commit_manifest
    state = {"injected": False, "calls": 0}

    def racing(output_dir, base, updates):
        state["calls"] += 1
        if not state["injected"]:
            state["injected"] = True
            M.commit_table(d2, out, **kw)  # the competing writer wins v1
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    M.commit_table(d1, out, **kw)
    # 3 CAS attempts: loser's doomed v1, injected winner's v1, retry's v2
    assert state["injected"] and state["calls"] == 3
    m = M.load_manifest(out)
    assert m["version"] == 2
    got = sorted(
        (r["conv_id"], r["v"])
        for r in M.read_results(spark, out).collect()
    )
    assert got == [("a", 1), ("b", 2), ("c", 3)]

    monkeypatch.setattr(M, "_commit_manifest", real)
    M.compact(spark, out)
    got2 = sorted(
        (r["conv_id"], r["v"])
        for r in M.read_results(spark, out).collect()
    )
    assert got2 == got


def test_compact_carries_forward_concurrent_epoch(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """A streaming epoch committed WHILE compaction runs (after its scan,
    before its CAS) must not be lost: the compactor's CAS conflicts, it
    retries on fresh state, and the final manifest holds the compacted
    plain keys PLUS the new epoch's keys."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("compact_race_fwd"))
    _two_epoch_table(spark, sdf, out)
    before = _collect_sorted(spark, out)

    batch = extract_turns(sdf)
    third = batch.filter(F.col("turn_idx") == 0)
    n_third = third.count()

    real = M._commit_manifest
    state = {"injected": False, "calls": 0}

    def racing(output_dir, base, updates):
        state["calls"] += 1
        if not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(M, "_commit_manifest", real)
            M.commit_stream_batch(third, 2, out, n_buckets=N_BUCKETS)
            monkeypatch.setattr(M, "_commit_manifest", racing)
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    m = M.compact(spark, out)
    monkeypatch.setattr(M, "_commit_manifest", real)

    # compactor CAS (conflict) + its retry = 2 patched calls
    assert state["injected"] and state["calls"] == 2
    keys = set(m["buckets"])
    assert {k for k in keys if k.startswith("2/")}, "new epoch lost"
    assert {k for k in keys if "/" not in k}, "compacted keys missing"
    assert {k.split("/")[0] for k in keys if "/" in k} == {"2"}
    got = M.read_results(spark, out)
    assert got.count() == len(before) + n_third


def test_compact_aborts_when_merged_key_replaced(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """If a merged key is REPLACED mid-compaction (an epoch replay pointing
    it at a fresh run dir), the compactor's rewrite no longer reflects the
    table: it must abort, leave CURRENT at the replayer's version, and its
    run dir must be vacuumable."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    import pandas as pd

    out = str(tmp_path_factory.mktemp("compact_race_abort"))
    _two_epoch_table(spark, sdf, out)
    before = _collect_sorted(spark, out)

    batch = extract_turns(sdf)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    real = M._commit_manifest
    state = {"injected": False}

    def racing(output_dir, base, updates):
        if not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(M, "_commit_manifest", real)
            # replayed epoch 1: SAME keys, fresh run dir
            M.commit_stream_batch(
                batch.filter(~half), 1, out, n_buckets=N_BUCKETS
            )
            monkeypatch.setattr(M, "_commit_manifest", racing)
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    with pytest.raises(M.CompactionIntegrityError, match="changed during"):
        M.compact(spark, out)
    monkeypatch.setattr(M, "_commit_manifest", real)

    assert state["injected"]
    # rows are exactly the (replayed) table; the compactor's dir is orphaned
    pd.testing.assert_frame_equal(before, _collect_sorted(spark, out))
    removed = M.vacuum(out)
    assert any("compact-v" in p for p in removed)
    pd.testing.assert_frame_equal(before, _collect_sorted(spark, out))


def test_extraction_refuses_layout_mismatch(spark, sdf, tmp_path_factory):
    """A batch run with a different n_buckets does NOT supersede the old
    layout key-by-key (rows re-hash mod the new count) — it must refuse."""
    out = str(tmp_path_factory.mktemp("layout_mismatch"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=16)
    # recorded layout survives compaction
    M.compact(spark, out)
    assert M.load_manifest(out)["n_buckets"] == 8
    with pytest.raises(ValueError, match="n_buckets"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4)
    # same layout still resumes fine
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=8)


def test_stream_commit_refuses_batch_commit_mid_epoch(
    spark, sdf, tmp_path_factory, monkeypatch
):
    """A batch writer landing between the stream sink's entry guard and
    its CAS must be detected on the reloaded base — not silently
    re-stamped origin='stream' (which would let epoch keys sit beside
    plain batch keys and double-emit)."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("stream_vs_batch_race"))
    batch = extract_turns(sdf)

    real = M._commit_manifest
    state = {"injected": False}

    def racing(output_dir, base, updates):
        if not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(M, "_commit_manifest", real)
            M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4)
            monkeypatch.setattr(M, "_commit_manifest", racing)
        return real(output_dir, base, updates)

    monkeypatch.setattr(M, "_commit_manifest", racing)
    with pytest.raises(ValueError, match="batch-committed"):
        M.commit_stream_batch(
            batch.filter(F.col("turn_idx") == 0), 0, out, n_buckets=4
        )
    monkeypatch.setattr(M, "_commit_manifest", real)
    assert state["injected"]
    # the catalog is exactly the batch writer's — no epoch keys leaked
    m = M.load_manifest(out)
    assert all("/" not in k for k in m["buckets"])
    assert M._catalog_origin(m) == "batch"


def test_legacy_catalog_refuses_any_layout_change(
    spark, sdf, tmp_path_factory
):
    """Pre-n_buckets manifests (no recorded layout): BOTH grow and shrink
    are refused — a same-snapshot grow would skip old-layout done buckets
    while re-hashing rows mod the new count (double emission)."""
    import json as _json

    out = str(tmp_path_factory.mktemp("legacy_layout"))
    M.run_extraction_job_atomic(spark, sdf, out, n_buckets=4)
    # simulate a legacy manifest: strip the recorded layout
    cur = M.current_version(out)
    path = M._manifest_path(out, cur)
    m = _json.load(open(path))
    del m["n_buckets"]
    import os as _os
    _os.remove(path)
    M._fsync_write(path, _json.dumps(m, sort_keys=True))

    with pytest.raises(ValueError, match="n_buckets"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        M.run_extraction_job_atomic(spark, sdf, out, n_buckets=2)
    # the inferred layout still works; a REAL commit (changed snapshot)
    # re-records it (a no-op resume writes no new manifest version)
    from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    extra = spark.createDataFrame(
        [("zz-new-conv", 0, "user", "plain new text", None, None)],
        TRANSCRIPT_SCHEMA,
    )
    M.run_extraction_job_atomic(
        spark, sdf.unionByName(extra), out, n_buckets=4
    )
    assert M.load_manifest(out)["n_buckets"] == 4


def test_vacuum_grace_covers_roll_forwarded_supersede(
    spark, sdf, tmp_path_factory
):
    """A successor manifest WRITTEN long ago but PUBLISHED just now (by
    roll-forward) must not age out its predecessor's data: readers kept
    loading the predecessor as CURRENT until the flip, so the grace
    window runs from the publish (CURRENT mtime), not the write."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("vacuum_rollfwd"))
    batch = extract_turns(sdf).select("conv_id", "turn_idx", "span_count")
    kw = dict(key_col="conv_id", n_buckets=4,
              hash_cols=("conv_id", "turn_idx"))
    M.commit_table(batch, out, **kw)                     # v1
    n_v1 = batch.count()
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_table(batch.filter(half), out, **kw)        # v2 (supersedes v1)

    # simulate: v2 was WRITTEN an hour ago but only published now — age
    # the manifest file and the superseded run dirs, then re-point
    # CURRENT at v1 and let vacuum's own roll-forward re-publish v2
    old = _time.time() - 3600
    _os.utime(M._manifest_path(out, 2), (old, old))
    data = _os.path.join(out, "data")
    for rid in _os.listdir(data):
        p = _os.path.join(data, rid)
        _os.utime(p, (old, old))
        for root, _dirs, files in _os.walk(p):
            for f in files:
                _os.utime(_os.path.join(root, f), (old, old))
    cdir = M._commit_dir(out)
    cur = _os.path.join(cdir, M._CURRENT)
    with open(cur, "w") as fh:
        fh.write("1")

    removed = M.vacuum(out, min_age_seconds=600)
    # roll-forward published v2 (CURRENT mtime = now), so v1 counts as
    # superseded only just now: its manifest AND run dir must survive
    assert removed == []
    assert M.read_results(spark, out, version=1).count() == n_v1
    assert M.current_version(out) == 2
    # age-blind vacuum then reclaims v1
    removed2 = M.vacuum(out)
    assert any("manifest-v1" in p for p in removed2)


def test_commit_table_empty_frame_tombstones_all_buckets(
    spark, tmp_path_factory
):
    """A zero-row commit (legitimate delete-everything snapshot) must
    commit tombstones, not crash: the partitionBy write leaves only
    _SUCCESS and the read-back needs the written frame's schema
    (_write_run)."""
    out = str(tmp_path_factory.mktemp("empty_commit"))
    df = spark.createDataFrame(
        [("a", "hello", 1)], "key string, body string, v int"
    )
    M.commit_table(df, out, key_col="key", n_buckets=2)
    assert M.read_results(spark, out).count() == 1
    # full-snapshot replace to EMPTY
    M.commit_table(df.limit(0), out, key_col="key", n_buckets=2)
    m = M.load_manifest(out)
    assert all(e["run_id"] is None for e in m["buckets"].values())
    got = M.read_results(spark, out)
    assert got.count() == 0
    got.select("body")  # schema preserved through the empty snapshot


def test_atomic_resume_with_all_pending_buckets_empty(
    spark, sdf, tmp_path_factory
):
    """Resume where every pending bucket is empty under the snapshot must
    commit zero-count tombstones, not crash on the read-back."""
    out = str(tmp_path_factory.mktemp("empty_pending"))
    with pytest.raises(SimulatedFailure):
        M.run_extraction_job_atomic(
            spark, sdf, out, n_buckets=64, buckets_per_commit=16,
            fail_after_commits=1,
        )
    # find a conv subset whose buckets are all already committed, so the
    # rerun's pending buckets receive zero rows
    m = M.load_manifest(out)
    done = {int(k) for k, e in m["buckets"].items()}
    assert done and len(done) < 64
    from pyspark.sql import functions as F

    subset = M.with_bucket(sdf, 64).filter(
        F.col("bucket").isin(sorted(done))
    ).drop("bucket")
    if subset.isEmpty():
        pytest.skip("no committed-bucket rows in this synth draw")
    res = M.run_extraction_job_atomic(
        spark, subset, out, n_buckets=64, buckets_per_commit=64
    )
    assert res["buckets_processed"] or res["buckets_skipped"]
    m2 = M.load_manifest(out)
    assert set(range(64)) == {int(k) for k in m2["buckets"]}
    _verify_manifest_vs_data(spark, out)


def test_compact_tombstone_only_selection(spark, tmp_path_factory):
    """compact() over buckets that hold only tombstones must no-op
    cleanly (empty rewrite == empty expectation), not crash reading the
    empty run dir."""
    out = str(tmp_path_factory.mktemp("compact_tomb"))
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 2)], "key string, body string, v int"
    )
    M.commit_table(df, out, key_col="key", n_buckets=4)
    m = M.load_manifest(out)
    tomb = [int(k) for k, e in m["buckets"].items() if e["run_id"] is None]
    if not tomb:
        pytest.skip("no tombstoned bucket in this hash draw")
    m2 = M.compact(spark, out, buckets=tomb)
    assert int(m2["version"]) >= int(m["version"])
    assert M.read_results(spark, out).count() == 2


def test_current_version_rolls_forward_over_regressed_pointer(
    spark, tmp_path_factory
):
    """CURRENT is a hint: a transiently-regressed pointer (dead writer's
    stale rename) must not hide newer committed manifest files from
    readers."""
    import os as _os

    out = str(tmp_path_factory.mktemp("ptr_regress"))
    df = spark.createDataFrame([("a", 1)], "key string, v int")
    M.commit_table(df, out, key_col="key", n_buckets=2)
    df2 = spark.createDataFrame([("a", 1), ("b", 2)], "key string, v int")
    M.commit_table(df2, out, key_col="key", n_buckets=2)
    assert M.current_version(out) == 2
    # simulate the dead-writer race: pointer renamed backwards
    with open(_os.path.join(M._commit_dir(out), M._CURRENT), "w") as fh:
        fh.write("1")
    assert M._pointer_version(out) == 1
    assert M.current_version(out) == 2  # readers roll forward
    assert M.read_results(spark, out).count() == 2
    # the next writer repairs the pointer file itself
    M._publish_pending(out)
    assert M._pointer_version(out) == 2


def _assert_lineage_mirrors(spark, out, committed_by):
    """Every manifest entry has exactly one lineage row with equal bucket,
    snapshot, hash and counts; ``committed_by(key, entry)`` names the run
    whose row it must be."""
    from marie_icr_spark.plans.lineage import read_lineage

    rows = [r.asDict() for r in read_lineage(spark, out).collect()]
    m = M.load_manifest(out)
    assert len(rows) == len(m["buckets"])
    for k, e in m["buckets"].items():
        b = int(k.split("/")[-1])
        mine = [
            r for r in rows
            if r["bucket"] == b and r["source_snapshot_id"] == e["snapshot"]
        ]
        assert len(mine) == 1, k
        r = mine[0]
        assert r["partition_hash"] == e["partition_hash"], k
        assert r["turn_count"] == e["turn_count"], k
        assert r["span_count"] == e["span_count"], k
        assert r["status"] == "completed", k
        assert r["run_id"] == committed_by(k, e), k


def test_lineage_rows_mirror_manifest_entries(spark, sdf, tmp_path_factory):
    """The lineage audit trail is the manifest's mirror: a killed-then-
    resumed batch job over a source that leaves buckets empty, and a
    two-epoch stream, each append one row per committed entry. The job's
    tombstones carry hash "0" and the committing job's run_id."""
    from pyspark.sql import functions as F

    dropped = [1, 5]
    subset = M.with_bucket(sdf, N_BUCKETS).filter(
        ~F.col("bucket").isin(dropped)
    ).drop("bucket")
    out = str(tmp_path_factory.mktemp("lineage_mirror"))
    with pytest.raises(SimulatedFailure):
        M.run_extraction_job_atomic(
            spark, subset, out, n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=1,
            run_id="killed-run",
        )
    first_unit = set(M.load_manifest(out)["buckets"])
    assert len(first_unit) == PER_COMMIT
    M.run_extraction_job_atomic(
        spark, subset, out, n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT, run_id="resumed-run",
    )

    def job_run(k, e):
        want = "killed-run" if k in first_unit else "resumed-run"
        if e["run_id"] is not None:
            assert e["run_id"] == want
        return want

    m = M.load_manifest(out)
    empties = {int(k) for k, e in m["buckets"].items() if e["turn_count"] == 0}
    assert set(dropped) <= empties
    for b in empties:
        e = m["buckets"][str(b)]
        assert e["run_id"] is None and e["partition_hash"] == "0"
    _assert_lineage_mirrors(spark, out, job_run)

    stream_out = str(tmp_path_factory.mktemp("lineage_mirror_stream"))
    _two_epoch_table(spark, sdf, stream_out)
    sm = M.load_manifest(stream_out)
    assert {k.split("/")[0] for k in sm["buckets"]} == {"0", "1"}
    _assert_lineage_mirrors(spark, stream_out, lambda k, e: e["run_id"])


def test_verify_flags_entries_that_disagree_with_data(
    spark, sdf, tmp_path_factory
):
    """verify() on a clean catalog returns the exact totals; a tampered
    hash, a tombstone over a bucket that has data, and a data bucket
    missing from the entries each make it return ok=False. Readers only
    surface data some entry references, so the last two are reached
    through explicit ``entries`` (the lineage oracle's path)."""
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    subset = M.with_bucket(sdf, N_BUCKETS).filter(
        F.col("bucket") != 1
    ).drop("bucket")
    out = str(tmp_path_factory.mktemp("verify_neg"))
    M.run_extraction_job_atomic(
        spark, subset, out, n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT
    )
    m = M.load_manifest(out)
    assert m["buckets"]["1"]["run_id"] is None  # a clean tombstone
    want = extract_turns(subset).agg(
        F.count(F.lit(1)).alias("t"), F.sum("span_count").alias("s")
    ).collect()[0]
    assert M.verify(spark, out) == (want["t"], int(want["s"]), True)

    k, e = next((k, e) for k, e in sorted(m["buckets"].items())
                if e["turn_count"] > 0)
    tombstoned = {**m["buckets"], k: M._entry(None, e["snapshot"], None)}
    assert M.verify(spark, out, tombstoned)[2] is False
    missing = {kk: ee for kk, ee in m["buckets"].items() if kk != k}
    assert M.verify(spark, out, missing)[2] is False

    flipped = format(int(e["partition_hash"], 16) ^ 1, "x")
    M._commit_manifest(out, m, {k: {**e, "partition_hash": flipped}})
    assert M.current_version(out) == m["version"] + 1
    turns, spans, ok = M.verify(spark, out)
    assert (turns, spans, ok) == (want["t"], int(want["s"]), False)


_AUDIT_ENTRIES = {
    "0": {"snapshot": "s1", "partition_hash": "cd", "turn_count": 2, "span_count": 7},
    "3/1": {"snapshot": "epoch:3", "partition_hash": "0", "turn_count": 0, "span_count": 0},
}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_append_lineage_runs_no_spark_job(spark, tmp_path):
    """A commit unit's audit rows are written from the driver: no Spark job
    (hence no Python task) runs, and the rows read back unchanged."""
    from marie_icr_spark.plans.lineage import (
        LINEAGE_SCHEMA,
        append_lineage,
        read_lineage,
    )

    out = str(tmp_path)
    # the job-group probe does see a job when one runs
    assert _jobs_in_group(spark, "lineage-probe", lambda: spark.range(3).count())
    assert _jobs_in_group(
        spark,
        "lineage-append",
        lambda: append_lineage(spark, out, "r1", _AUDIT_ENTRIES),
    ) == []
    lin = read_lineage(spark, out)
    assert lin.schema == LINEAGE_SCHEMA
    rows = sorted(tuple(r) for r in lin.collect())
    assert [r[:7] for r in rows] == [
        ("r1", "epoch:3", 1, "0", 0, 0, "completed"),
        ("r1", "s1", 0, "cd", 2, 7, "completed"),
    ]
    assert rows[0][7] is not None and rows[0][7] == rows[1][7]
    # no leftover temp; empty entries write nothing
    append_lineage(spark, out, "r2", {})
    assert [n for n in os.listdir(os.path.join(out, "_lineage"))
            if not n.startswith("part-r1-")] == []


def test_lineage_from_the_spark_appender_still_reads(spark, tmp_path):
    """A ``_lineage`` dir holding a row written by the earlier Spark
    appender (a Python-list frame + ``current_timestamp``, reproduced here)
    reads back together with a driver-written row, in ``LINEAGE_SCHEMA``."""
    from pyspark.sql import functions as F

    from marie_icr_spark.plans.lineage import (
        LINEAGE_SCHEMA,
        STATUS_COMPLETED,
        _lineage_dir,
        append_lineage,
        read_lineage,
    )

    out = str(tmp_path)
    (
        spark.createDataFrame(
            [("old-run", "s0", 5, "ab", 3, 4, STATUS_COMPLETED, None)],
            LINEAGE_SCHEMA,
        )
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("append")
        .parquet(_lineage_dir(out))
    )
    append_lineage(spark, out, "new-run", {"0": _AUDIT_ENTRIES["0"]})
    lin = read_lineage(spark, out)
    assert lin.schema == LINEAGE_SCHEMA
    got = sorted(tuple(r) for r in lin.collect())
    assert [g[:7] for g in got] == [
        ("new-run", "s1", 0, "cd", 2, 7, "completed"),
        ("old-run", "s0", 5, "ab", 3, 4, "completed"),
    ]
    assert all(g[7] is not None for g in got)


def test_read_lineage_raises_on_corrupt_audit_file(spark, tmp_path):
    """Only a missing ``_lineage`` dir reads as "no lineage"; a truncated
    audit file is an error, not an empty audit trail."""
    from marie_icr_spark.plans.lineage import (
        LINEAGE_SCHEMA,
        _lineage_dir,
        append_lineage,
        read_lineage,
    )

    out = str(tmp_path)
    empty = read_lineage(spark, out)
    assert empty.schema == LINEAGE_SCHEMA and empty.count() == 0

    append_lineage(spark, out, "r1", _AUDIT_ENTRIES)
    (name,) = os.listdir(_lineage_dir(out))
    path = os.path.join(_lineage_dir(out), name)
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    with pytest.raises(Exception, match="(?i)parquet|FAILED_READ_FILE"):
        read_lineage(spark, out).collect()


def test_vacuum_reclaims_old_lineage_tmp_only(tmp_path):
    """A writer killed inside ``append_lineage`` leaves a hidden temp file:
    vacuum removes it once older than ``min_age_seconds`` and keeps a fresh
    one (it may belong to a writer still running) and the audit rows."""
    import time

    from marie_icr_spark.plans.lineage import _lineage_dir, append_lineage

    out = str(tmp_path)
    append_lineage(None, out, "r1", _AUDIT_ENTRIES)
    ldir = _lineage_dir(out)
    (audit,) = os.listdir(ldir)
    old = os.path.join(ldir, ".part-dead-0.parquet.tmp")
    fresh = os.path.join(ldir, ".part-live-1.parquet.tmp")
    for p in (old, fresh):
        with open(p, "wb") as f:
            f.write(b"PAR1")
    hour_ago = time.time() - 3600
    os.utime(old, (hour_ago, hour_ago))

    removed = M.vacuum(out, min_age_seconds=600)
    assert removed == [old]
    assert sorted(os.listdir(ldir)) == sorted([audit, os.path.basename(fresh)])
    assert M.vacuum(out) == [fresh]


def test_local_frame_is_a_local_table_scan(spark):
    """``session.local_frame`` keeps the schema (flat, empty and nested
    ``array<struct>``) and plans no Python RDD, unlike a list frame."""
    from marie_icr_spark.operators.similarity import _CENTS_SCHEMA
    from marie_icr_spark.plans.lineage import LINEAGE_SCHEMA
    from marie_icr_spark.session import local_frame

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    row = ("r", "s", 1, "ab", 2, 3, "completed", None)
    assert "ExistingRDD" in plan(spark.createDataFrame([row], LINEAGE_SCHEMA))
    cents = [([(1, [1, -2]), (2, [3])],)]
    for rows, schema in ((
        [row, row], LINEAGE_SCHEMA), ([], LINEAGE_SCHEMA), (cents, _CENTS_SCHEMA)
    ):
        df = local_frame(spark, rows, schema)
        assert df.schema == schema
        assert "ExistingRDD" not in plan(df)
        assert [tuple(r) for r in df.collect()] == [
            tuple(r) for r in spark.createDataFrame(rows, schema).collect()
        ]
