#!/usr/bin/env python
"""spark-submit entrypoint: resumable transcript extraction.

The production launch shape of the north rule:

    zip -r marie_icr_spark.zip marie_icr_spark
    spark-submit --py-files marie_icr_spark.zip jobs/run_extraction.py \\
        --input  <transcripts table/path> \\
        --output <results table/path> \\
        [--n-buckets 4096] [--buckets-per-commit 64] [--mode sparse] \\
        [--salt-partitions 0] [--run-id <id>]

On a cluster the session comes from spark-submit's conf (executors, Iceberg
catalog); locally it falls back to local[*]. The job is
``plans.manifest.run_extraction_job_atomic``, the engine's one commit
protocol: immutable per-run data dirs + an atomically-renamed version
pointer, so a kill at any point leaves readers on the previous consistent
snapshot (read them with ``plans.manifest.read_results``). Rerunning with
the same --output resumes from the last committed bucket.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcript parquet/table path")
    ap.add_argument("--output", required=True, help="results output path")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--buckets-per-commit", type=int, default=8)
    ap.add_argument("--mode", default="sparse", help="PSM mode for layout turns")
    ap.add_argument(
        "--salt-partitions", type=int, default=0,
        help="if >0, salt-repartition the input to this many partitions "
             "before extraction (hot-conversation file skew)",
    )
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from marie_icr_spark.operators.extraction import salt_repartition
    from marie_icr_spark.plans.manifest import run_extraction_job_atomic

    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.appName(
            "marie-icr-spark-extract"
        ).getOrCreate()
    # save/restore confs we touch, so an injected session (tests,
    # notebooks) is not permanently mutated. conf.get(k, default) resolves
    # built-in defaults (never None for confs like adaptive.enabled), so
    # "was it explicitly set" must come from the session SQLConf's settings
    # map — only then is unset() the right restore.
    _touched = ("spark.sql.adaptive.enabled",)

    def _saved_value(k):
        try:
            explicitly_set = spark._jsparkSession.sessionState().conf().contains(k)
        except Exception:
            explicitly_set = True  # conservative: restore by value
        return spark.conf.get(k, None) if explicitly_set else None

    saved = {k: _saved_value(k) for k in _touched}
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    try:
        transcripts = spark.read.parquet(args.input)
        if args.salt_partitions > 0:
            transcripts = salt_repartition(transcripts, args.salt_partitions)

        summary = run_extraction_job_atomic(
            spark,
            transcripts,
            args.output,
            run_id=args.run_id,
            n_buckets=args.n_buckets,
            buckets_per_commit=args.buckets_per_commit,
            mode=args.mode,
        )
        print(json.dumps(summary, default=str))
    finally:
        if owns_session:
            spark.stop()
        else:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    return 0


if __name__ == "__main__":
    sys.exit(main())
