"""spark-submit entrypoint (jobs/run_extraction.py) end-to-end: CLI args →
resumable job → results + lineage on disk. Covers the north rule's launch
shape without invoking the spark-submit binary (main() runs in-process)."""

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "jobs"))
import run_extraction  # noqa: E402

from marie_icr_spark.plans import manifest as M
from marie_icr_spark.plans.lineage import read_lineage
from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    tdf, _ = synth_transcripts(n_convs=15, seed=21, hot_factor=4)
    path = str(tmp_path_factory.mktemp("cli_in"))
    spark.createDataFrame(tdf, schema=TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_cli_end_to_end_and_resume_noop(spark, input_dir, tmp_path_factory, capsys):
    """The job commits through the manifest-swap catalog: CURRENT advances
    once per commit unit, the manifest reader returns every row, every
    bucket has a completed lineage row, and a rerun is a no-op."""
    out = str(tmp_path_factory.mktemp("cli_out"))
    rc = run_extraction.main(
        ["--input", input_dir, "--output", out, "--n-buckets", "4",
         "--buckets-per-commit", "2", "--salt-partitions", "8"],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(summary["buckets_processed"]) == list(range(4))
    assert summary["manifest_version"] == 2
    assert M.current_version(out) == 2
    n_in = spark.read.parquet(input_dir).count()
    assert M.read_results(spark, out).count() == n_in
    lin = read_lineage(spark, out)
    assert lin.filter("status = 'completed'").select("bucket").distinct().count() == 4

    # rerun = resume noop: nothing pending, no new manifest version
    rc2 = run_extraction.main(
        ["--input", input_dir, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert rc2 == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["buckets_processed"] == []
    assert M.current_version(out) == 2


def test_cli_psm_mode_flag_reaches_extraction(spark, input_dir, tmp_path_factory, capsys):
    """--mode must change layout-turn extraction (regression: the flag was
    parsed but never passed through to the job)."""
    out_sparse = str(tmp_path_factory.mktemp("cli_sparse"))
    out_raw = str(tmp_path_factory.mktemp("cli_raw"))
    for out, mode in ((out_sparse, "sparse"), (out_raw, "raw_line")):
        rc = run_extraction.main(
            ["--input", input_dir, "--output", out, "--n-buckets", "2",
             "--mode", mode],
            spark=spark,
        )
        assert rc == 0
    n_in = spark.read.parquet(input_dir).count()
    a = M.read_results(spark, out_sparse)
    b = M.read_results(spark, out_raw)
    assert a.count() == n_in and b.count() == n_in
    # raw_line flattens layout turns to one input-order line → texts differ
    joined = (
        a.select("conv_id", "turn_idx", a["extracted_text"].alias("t_sparse"))
        .join(
            b.select("conv_id", "turn_idx", b["extracted_text"].alias("t_raw")),
            ["conv_id", "turn_idx"],
        )
        .filter("t_sparse != t_raw")
    )
    assert joined.count() > 0


def test_cli_atomic_flag_commits_via_manifest(spark, input_dir, tmp_path_factory, capsys):
    """The job commits through the manifest-swap catalog (the only commit
    protocol, so no flag selects it): CURRENT advances, every committed
    bucket's data lives in an immutable per-run dir, the manifest reader
    returns every row, and a resume with the same options is a no-op."""
    import os

    out = str(tmp_path_factory.mktemp("cli_atomic"))
    args = ["--input", input_dir, "--output", out, "--n-buckets", "4",
            "--buckets-per-commit", "2"]
    rc = run_extraction.main(args, spark=spark)
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["manifest_version"] == 2
    assert M.current_version(out) == 2
    run_ids = {e["run_id"] for e in M.load_manifest(out)["buckets"].values()}
    assert None not in run_ids
    for run_id in run_ids:
        assert os.path.isdir(os.path.join(out, "data", run_id))
    n_in = spark.read.parquet(input_dir).count()
    assert M.read_results(spark, out).count() == n_in
    # resume: nothing pending, no new manifest version
    rc2 = run_extraction.main(args, spark=spark)
    assert rc2 == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["buckets_processed"] == []
    assert M.current_version(out) == 2


def test_corpus_pipeline_cli(spark, input_dir, tmp_path_factory, capsys):
    """Transcripts → curated corpus through the atomic catalog: every stage
    filter is reflected in the committed rows, the manifest certifies them,
    and a second run supersedes the snapshot atomically."""
    import run_corpus_pipeline
    from pyspark.sql import functions as F

    from marie_icr_spark.plans import corpus as C

    out = str(tmp_path_factory.mktemp("corpus_out"))
    rc = run_corpus_pipeline.main(
        ["--input", input_dir, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = M.read_results(spark, out)
    assert summary["conversations"] == got.count() > 0
    assert summary["manifest_version"] == 1

    # committed rows == the pipeline run directly (same params)
    direct = C.build_corpus(
        spark.read.parquet(input_dir), rates=dict(C.SAMPLE_RATES)
    )
    import pandas as pd

    cols = ["conv_id", "conversation_text", "turn_count", "n_tokens",
            "quality", "pred_lang"]
    pd.testing.assert_frame_equal(
        got.select(cols).sort("conv_id").toPandas(),
        direct.select(cols).sort("conv_id").toPandas(),
    )
    # stage invariants: quality gate + exact dedup held
    assert got.filter(F.col("quality") < C.MIN_QUALITY).count() == 0
    assert (
        got.select("conversation_text").distinct().count() == got.count()
    )
    # stats block recorded for the generic schema; manifest sums certify
    m = M.load_manifest(out)
    assert m["stats"]["hash_cols"] == ["conv_id", "conversation_text"]
    assert sum(e["span_count"] for e in m["buckets"].values()) == (
        got.agg(F.sum("n_tokens")).collect()[0][0]
    )

    # re-run: full-snapshot replace, one new version, same visible rows
    rc2 = run_corpus_pipeline.main(
        ["--input", input_dir, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert rc2 == 0
    assert M.current_version(out) == 2
    assert M.read_results(spark, out).count() == got.count()


def test_corpus_pipeline_cli_no_near_dup_rate_flags(
    spark, input_dir, tmp_path_factory, capsys
):
    import run_corpus_pipeline

    out = str(tmp_path_factory.mktemp("corpus_nd"))
    rc = run_corpus_pipeline.main(
        ["--input", input_dir, "--output", out, "--no-near-dup",
         "--rate", "en=1.0", "--rate", "und=1.0", "--default-rate", "1.0",
         "--min-quality", "0.0", "--n-buckets", "2"],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # no quality gate, no sampling, no near-dup: only exact dedup can drop
    n_convs = spark.read.parquet(input_dir).select("conv_id").distinct().count()
    assert 0 < summary["conversations"] <= n_convs
    assert M.read_results(spark, out).count() == summary["conversations"]


def test_catalog_admin_cli(spark, input_dir, tmp_path_factory, capsys):
    """status → compact → vacuum round-trip over a fragmented streaming
    catalog, all through the admin CLI."""
    import catalog_admin
    from pyspark.sql import functions as F

    from marie_icr_spark.operators.extraction import extract_turns

    out = str(tmp_path_factory.mktemp("admin"))
    batch = extract_turns(spark.read.parquet(input_dir))
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=4)
    M.commit_stream_batch(batch.filter(~half), 1, out, n_buckets=4)
    n = M.read_results(spark, out).count()

    assert catalog_admin.main(["status", "--table", out], spark=spark) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows"] == n and st["epoch_keys"] == st["keys"] > 0
    assert st["live_runs"] == 2

    assert catalog_admin.main(["compact", "--table", out], spark=spark) == 0
    cp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cp["epoch_keys"] == 0 and cp["rows"] == n and cp["live_runs"] == 1

    assert catalog_admin.main(["vacuum", "--table", out], spark=spark) == 0
    vc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vc["removed"] >= 2  # the two superseded epoch dirs (+ manifests)
    assert M.read_results(spark, out).count() == n


def test_corpus_pipeline_checkpoint_dir_no_warning(
    spark, input_dir, tmp_path_factory, capsys
):
    """--checkpoint-dir routes the CC rounds to reliable checkpoints: the
    'session checkpoint dir set but checkpoint_dir not passed' UserWarning
    must NOT fire, and round files land under the given dir."""
    import os
    import warnings

    import run_corpus_pipeline

    out = str(tmp_path_factory.mktemp("corpus_ckpt_out"))
    ckpt = str(tmp_path_factory.mktemp("corpus_ckpt"))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        rc = run_corpus_pipeline.main(
            ["--input", input_dir, "--output", out, "--n-buckets", "2",
             "--checkpoint-dir", ckpt],
            spark=spark,
        )
    assert rc == 0
    capsys.readouterr()
    # reliable checkpoints write under the passed dir (unless the graph had
    # no edges, in which case nothing needed checkpointing)
    assert os.path.isdir(ckpt)


def test_corpus_incremental_cli(spark, input_dir, tmp_path_factory, capsys):
    """bootstrap → extraction-catalog CDC → incremental run: the CLI
    chains the whole loop and the final corpus equals a full recompute."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    import run_corpus_incremental
    from marie_icr_spark.plans import corpus as C
    from marie_icr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    stage = str(tmp_path_factory.mktemp("ci_stage"))
    out = str(tmp_path_factory.mktemp("ci_out"))
    results = str(tmp_path_factory.mktemp("ci_results"))
    t = spark.read.parquet(input_dir)

    # extraction catalog v1 (the CDC source)
    M.run_extraction_job_atomic(spark, t, results, n_buckets=4)
    v1 = M.load_manifest(results)["version"]

    rc = run_corpus_incremental.main(
        ["--input", input_dir, "--stage-dir", stage, "--output", out,
         "--n-buckets", "4", "--bootstrap"],
        spark=spark,
    )
    assert rc == 0
    boot = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert boot["action"] == "bootstrap" and boot["corpus_rows"] > 0

    # delta: one conversation grows; extraction catalog advances to v2
    vid = t.select("conv_id").orderBy("conv_id").limit(1).collect()[0][0]
    extra = spark.createDataFrame(
        [(vid, 999, "user", "a fresh plain turn of text", None, None)],
        TRANSCRIPT_SCHEMA,
    )
    upd_dir = str(tmp_path_factory.mktemp("ci_updated"))
    t.unionByName(extra).write.parquet(upd_dir, mode="overwrite")
    updated = spark.read.parquet(upd_dir)
    M.run_extraction_job_atomic(spark, updated, results, n_buckets=4)

    rc = run_corpus_incremental.main(
        ["--input", upd_dir, "--results-dir", results,
         "--from-version", str(v1), "--stage-dir", stage,
         "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert rc == 0
    inc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert inc["action"] == "incremental" and inc["affected_convs"] >= 1
    assert inc["corpus_version"] == boot["corpus_version"] + 1

    got = (
        M.read_results(spark, out)
        .select("conv_id", "conversation_text", "pred_lang")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    want = (
        C.build_corpus(updated, rates=dict(C.SAMPLE_RATES))
        .select("conv_id", "conversation_text", "pred_lang")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # certification interop: the full-rebuild CLI accepts the same output
    # catalog (identical hash_cols/sum_col stats block)
    import run_corpus_pipeline

    rc = run_corpus_pipeline.main(
        ["--input", upd_dir, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
