"""The benchmark's workloads, as ordered operations on staged inputs.

Each workload object offers:

* ``warm()``: the untimed extraction pass over the workload's input that
  ends a set-up (it starts and warms the Python workers);
* ``ops``: the timed operations of one pass, in order. ``Op.run()``
  performs one call into the engine's public API and returns what the
  check needs; ``Op.check(value)`` compares it with the expected output and
  runs outside the timed region;
* ``prepare()``, ``warm_ops()``, ``before_pass()``, ``after_pass()``:
  untimed work around the passes (the killed job, the warm-up pass, and the
  output dirs of each pass);
* ``verify()``: the exact count of mismatched turns, computed only when a
  digest check failed;
* ``rows``: the input turns one pass works on.

:class:`HeavyQueries` has the same ``ops``; it runs only inside the traced
run of extract_mixed, to measure the layers of the heavy registry queries.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import functions as F

from golden import (
    assembled_digest,
    cached_json,
    expected_extraction,
    golden_turns,
    mismatched_turns,
    oracle_digest,
    rows_digest,
    turn_digest,
)


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    # DataFrame of the last call, when the call ran one (for the plan walk)
    last_df: object = None


def _count() -> F.Column:
    return F.count(F.lit(1))


def _first_row(df) -> list:
    return list(df.collect()[0])


def _by_key(df) -> dict:
    return {r[0]: list(r[1:]) for r in df.collect()}


N_BUCKETS = 4
BUCKETS_PER_COMMIT = 2
COMMIT_UNITS = N_BUCKETS // BUCKETS_PER_COMMIT
KILL_AFTER = COMMIT_UNITS // 2
# calls per pass of the short operations, whose single calls vary most
NOOP_RERUNS = 2
READBACKS = 2
EXTRACT_OPS = ("extract_turns", "kind_counts", "structs", "assemble")


class Workload:
    """One staged transcript table, and every operation a pass runs on it:
    four extraction queries, then the atomic extraction job on a fresh
    output dir, the resume of a job killed after half its commit units,
    no-op reruns, and readbacks of the resumed table.

    The workloads run the same operations, because each must report every
    bounded metric, and differ in their input: extract_mixed repeats each
    document's text across replicas, while commit_distinct tags every
    replica's text so no two payloads are equal. The killed job runs once,
    in :meth:`prepare`; every pass resumes a copy of what it left, made
    before the pass is timed.
    """

    def __init__(self, spark, staged: dict, work: str):
        from marie_icr_spark.sources.transcripts import CONV_MOD

        self.name = staged["workload"]
        self.spark = spark
        self.staged = staged
        self.t = spark.read.parquet(staged["transcripts"])
        self.golden = golden_turns(
            spark, staged["documents"], staged["replicate"], CONV_MOD
        )
        self.expected = cached_json(
            os.path.join(staged["dir"], "expected.json"),
            lambda: expected_extraction(self.golden),
        )
        self.rows = staged["transcripts_rows"]
        self.out_root = os.path.join(work, "commit_out")
        shutil.rmtree(self.out_root, ignore_errors=True)  # left by an earlier run
        self.killed = os.path.join(self.out_root, "killed")
        self.passes = 0
        self.fresh = self.resumed = ""
        self.failed_digest = False
        self.pending_turns = 0
        self.last_resume: dict = {}
        e = self.expected
        self._expect_turns = [e["turns"], e["spans"], e["digest"]]
        self.ops = [
            self._query("extract_turns", self._extract, _first_row, self._expect_turns),
            self._query("kind_counts", self._kind_counts, _by_key, e["kinds"]),
            self._query("structs", self._structs, _first_row,
                        [e["turns"], e["layout_words"], e["layout_lines"], e["digest"]]),
            self._query("assemble", self._assemble, _first_row, e["assembled"]),
            Op("job", self._job, lambda v: v["commits"] == COMMIT_UNITS),
            Op("resume", self._resume, lambda v: v["commits"] == COMMIT_UNITS - KILL_AFTER),
        ]
        self.ops += [Op("noop_rerun", self._rerun, lambda v: v["commits"] == 0)
                     for _ in range(NOOP_RERUNS)]
        self.ops += [Op("readback", self._readback, self._check_turns)
                     for _ in range(READBACKS)]

    def _query(self, name, query, read, expected) -> Op:
        op = Op(name, None, None)

        def run():
            op.last_df = query()
            return read(op.last_df)

        def check(value) -> bool:
            ok = value == expected
            self.failed_digest |= not ok
            return ok

        op.run, op.check = run, check
        return op

    def _extract(self):
        from marie_icr_spark.operators.extraction import extract_turns

        return extract_turns(self.t).agg(_count(), F.sum("span_count"), turn_digest())

    def _kind_counts(self):
        from marie_icr_spark.operators.extraction import extract_turns

        return (
            extract_turns(self.t, columns=("payload_kind", "span_count"))
            .groupBy("payload_kind")
            .agg(_count(), F.sum("span_count"))
        )

    def _structs(self):
        from marie_icr_spark.operators.extraction import extract_turns

        return extract_turns(self.t, with_structs=True).agg(
            _count(), F.sum(F.size("words")), F.sum(F.size("lines")), turn_digest()
        )

    def _assemble(self):
        from marie_icr_spark.operators.assembly import assemble_conversations
        from marie_icr_spark.operators.extraction import extract_turns

        return assemble_conversations(extract_turns(self.t)).agg(
            _count(), F.sum("turn_count"), assembled_digest()
        )

    def warm_ops(self) -> list[Op]:
        """The operations of the untimed warm-up pass: all but the fresh
        job, whose code paths the killed job of :meth:`prepare` has run."""
        return [op for op in self.ops if op.name != "job"]

    def before_pass(self) -> None:
        """New output dirs for the pass, the resumed one a copy of the
        killed job's (outside the timed region)."""
        self.passes += 1
        base = os.path.join(self.out_root, f"p{self.passes}")
        self.fresh = os.path.join(base, "fresh")
        self.resumed = os.path.join(base, "resumed")
        shutil.copytree(self.killed, self.resumed)

    def after_pass(self) -> None:
        """Drops the tables of earlier passes (outside the timed region)."""
        keep = {f"p{self.passes}", "killed"}
        for d in os.listdir(self.out_root):
            if d not in keep:
                shutil.rmtree(os.path.join(self.out_root, d), ignore_errors=True)

    def _job(self):
        from marie_icr_spark.plans.manifest import run_extraction_job_atomic

        return run_extraction_job_atomic(
            self.spark, self.t, self.fresh,
            n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT,
        )

    def prepare(self) -> bool:
        """Runs the job that ``fail_after_commits`` kills after half its
        commit units, on a fresh dir; True when it committed exactly those."""
        from marie_icr_spark.plans.lineage import SimulatedFailure
        from marie_icr_spark.plans.manifest import (
            load_manifest,
            run_extraction_job_atomic,
        )

        shutil.rmtree(self.killed, ignore_errors=True)
        try:
            run_extraction_job_atomic(
                self.spark, self.t, self.killed,
                n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT,
                fail_after_commits=KILL_AFTER,
            )
        except SimulatedFailure:
            buckets = load_manifest(self.killed)["buckets"]
            self.pending_turns = self.rows - sum(
                b["turn_count"] for b in buckets.values()
            )
            return len(buckets) == KILL_AFTER * BUCKETS_PER_COMMIT
        return False  # the kill hook did not fire

    def _rerun(self):
        from marie_icr_spark.plans.manifest import run_extraction_job_atomic

        return run_extraction_job_atomic(
            self.spark, self.t, self.resumed,
            n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT,
        )

    def _resume(self):
        self.last_resume = self._rerun()
        return self.last_resume

    def _readback(self):
        from marie_icr_spark.plans.manifest import read_results

        return _first_row(
            read_results(self.spark, self.resumed)
            .agg(_count(), F.sum("span_count"), turn_digest())
        )

    def _check_turns(self, v) -> bool:
        ok = v == self._expect_turns
        self.failed_digest |= not ok
        return ok

    def warm(self) -> None:
        self._extract().collect()

    def verify(self) -> int:
        """Exact count of mismatched turns, computed only when a check
        failed; it checks the fresh (never killed) table of the last pass
        too."""
        from marie_icr_spark.operators.extraction import extract_turns
        from marie_icr_spark.plans.manifest import read_results

        fresh = read_results(self.spark, self.fresh)
        got = _first_row(fresh.agg(_count(), F.sum("span_count"), turn_digest()))
        if got == self._expect_turns and not self.failed_digest:
            return 0
        return max(
            mismatched_turns(extract_turns(self.t), self.golden),
            mismatched_turns(fresh, self.golden),
            mismatched_turns(read_results(self.spark, self.resumed), self.golden),
        )

    def output_stats(self) -> dict:
        """Parquet files in the last fresh table, and the turns the last
        resume re-extracted (rows in its run dir) per turn it had pending."""
        import pyarrow.parquet as pq

        from marie_icr_spark.plans.manifest import current_version

        files = sum(
            n.endswith(".parquet")
            for _, _, names in os.walk(os.path.join(self.fresh, "data"))
            for n in names
        )
        rdir = os.path.join(self.resumed, "data", self.last_resume["run_id"])
        redone = sum(
            pq.read_metadata(os.path.join(d, n)).num_rows
            for d, _, names in os.walk(rdir)
            for n in names
            if n.endswith(".parquet")
        )
        return {
            "files": files,
            "redone_turns": redone / max(1, self.pending_turns),
            "commits": current_version(self.fresh) + current_version(self.resumed),
        }


# registry query -> the engine module whose layer it measures
HEAVY_QUERIES = {
    "template_suite": "operators.templates",
    "dedup_groups": "operators.components",
    "jaccard_pairs": "operators.similarity",
    "tiff_pack": "operators.tiffio",
}


class HeavyQueries:
    """Registry queries built on pandas/Arrow UDFs over nested structs and
    an iterative shuffle, checked against their DuckDB oracles."""

    name = "heavy"

    def __init__(self, spark, staged: dict, work: str):
        from marie_icr_spark.queries import ALL_ORACLES

        self.spark = spark
        self.staged = staged
        self.rows = staged["documents_rows"]
        oracle_dir = os.path.join(work, "oracle")
        os.makedirs(oracle_dir, exist_ok=True)
        self.expected = {
            q: oracle_digest(ALL_ORACLES[q], staged["documents"], oracle_dir, staged["seed"])
            for q in HEAVY_QUERIES
        }
        self.ops = [self._op(q) for q in HEAVY_QUERIES]

    def _op(self, query: str) -> Op:
        from marie_icr_spark.queries import ALL_QUERIES

        op = Op(query, None, None)

        def run():
            op.last_df = ALL_QUERIES[query](self.spark, self.staged["dir"])
            return op.last_df.columns, op.last_df.collect()

        def check(v) -> bool:
            cols, rows = v
            return (
                len(rows) == self.expected[query]["rows"]
                and rows_digest(cols, rows) == self.expected[query]["digest"]
            )

        op.run, op.check = run, check
        return op

    def before_pass(self) -> None:
        pass

    def after_pass(self) -> None:
        pass


WORKLOADS = ("extract_mixed", "commit_distinct")
