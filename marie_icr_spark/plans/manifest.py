"""Atomic data+lineage commits over plain files: manifest-swap catalog.

The engine's only commit protocol. Plain parquet has no atomic multi-file
commit: a writer that rewrites bucket dirs in place (dynamic partition
overwrite) and records lineage afterwards leaves a window in which a crash
— e.g. while upgrading to a new source snapshot — has readers see purged
or partially written partitions. This catalog closes that window. It
rebuilds the transactional complete/fail contract of the reference's
scheduler (``marie/scheduler/psql.py:811-868`` —
job completion flips atomically, never half-visible) the way Iceberg's
hadoop catalog does it, with no extra jars:

* data files are **immutable**: each run writes to a fresh
  ``data/<run_id>/bucket=*`` directory and never touches prior runs' files;
* the table state is a **versioned manifest** (``_commit/manifest-v<N>.json``,
  written complete + fsynced before use) mapping every committed bucket to
  (run_id, source snapshot, partition hash, counts);
* visibility flips by **atomically renaming** a tiny pointer file
  (``_commit/CURRENT``) to the new version — POSIX rename is atomic, so a
  reader loading CURRENT sees either the old or the new manifest in full,
  never a mix. A crash at ANY point before the rename leaves CURRENT (and
  every data file it references) untouched.

Concurrent writers are handled optimistically: ``link(2)``-ing the
complete version file into ``manifest-vN`` loses to an existing vN
(another writer committed first) → reload + retry, the same
compare-and-swap Iceberg does on its version file; a writer that dies
before renaming CURRENT is rolled forward by the next writer
(:func:`_publish_pending`) — version files are complete by construction.

Resume = buckets absent from CURRENT (or committed under a different source
snapshot) are re-extracted into a new run dir; a crashed run's orphan dir is
simply never referenced and is reclaimed by :func:`vacuum`.

Every writer — the batch job, the streaming sink, :func:`commit_table` and
:func:`compact` — goes through the same write path: rows bucketed by
:func:`~.lineage.with_bucket`, one :func:`_write_run` (write the run dir,
read it back, certify per-bucket stats in one aggregate), one
:func:`_entry` per manifest key, the lineage audit rows
(:func:`~.lineage.append_lineage`) before the swap, then the CAS. One
check, :func:`verify`, recomputes the stats from what readers see and
compares them with the entries.

Everything a commit writes besides the data is driver-written with the
same POSIX contract (complete + fsynced under a temp name, then
``link(2)``/``rename(2)``): the manifest versions, CURRENT, and the lineage
audit rows, which are one pyarrow parquet file per commit unit. A commit
unit therefore runs no Spark job of its own, and driver-side rows become
frames through :func:`~marie_icr_spark.session.local_frame`, never a
Python list.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .lineage import (
    EMPTY_BUCKET_HASH,
    SimulatedFailure,
    _empty_results_frame,
    _lineage_dir,
    append_lineage,
    source_fingerprint,
    with_bucket,
)

_COMMIT_DIR = "_commit"
_CURRENT = "CURRENT"


class CommitConflict(RuntimeError):
    """Another writer committed the manifest version we raced for."""


class CompactionIntegrityError(RuntimeError):
    """Compacted data does not hash-match the manifest it merged — the
    swap is aborted and CURRENT still points at the uncompacted version."""


# -- manifest file plumbing (driver-side: one tiny JSON per commit) ---------


def _commit_dir(output_dir: str) -> str:
    return os.path.join(output_dir, _COMMIT_DIR)


def _manifest_path(output_dir: str, version: int) -> str:
    return os.path.join(_commit_dir(output_dir), f"manifest-v{version}.json")


def _fsync_write(path: str, payload: str) -> None:
    """Write complete-then-durable: content is fully on disk before any
    pointer can reference it (crash between write and rename is harmless)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


def _pointer_version(output_dir: str) -> int:
    """Raw value of the CURRENT pointer file; 0 = no commit yet."""
    try:
        with open(os.path.join(_commit_dir(output_dir), _CURRENT)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def current_version(output_dir: str) -> int:
    """Latest committed version: the CURRENT pointer, rolled forward over
    contiguously-existing newer manifest files.

    Version files are complete by construction BEFORE they become visible
    (written to a temp name, fsynced, ``link(2)``-ed in — see
    :func:`_publish_pending`), so existence == committed. Scanning forward
    makes the pointer a performance hint rather than the source of truth:
    a writer that read a stale version and renamed CURRENT backwards (the
    unavoidable race window of an unconditional rename) — or died before
    renaming at all — cannot make readers miss a newer committed version.
    The next writer's :func:`_publish_pending` repairs the pointer so this
    scan stays O(1) in steady state."""
    v = _pointer_version(output_dir)
    while os.path.exists(_manifest_path(output_dir, v + 1)):
        v += 1
    return v


def load_manifest(output_dir: str, version: int | None = None) -> dict:
    """The manifest the CURRENT pointer designates (or an explicit version —
    time travel, exactly like reading an old Iceberg snapshot).

    Shape: ``{"version": N, "buckets": {"<b>": {"run_id", "snapshot",
    "partition_hash", "turn_count", "span_count"}}}``; ``run_id`` is None
    for a bucket that is legitimately empty under its snapshot.
    """
    v = current_version(output_dir) if version is None else version
    if v == 0:
        return {"version": 0, "buckets": {}}
    with open(_manifest_path(output_dir, v)) as f:
        return json.load(f)


def _swap_current(output_dir: str, version: int) -> None:
    cdir = _commit_dir(output_dir)
    tmp = os.path.join(cdir, f"{_CURRENT}.tmp.{uuid.uuid4().hex}")
    _fsync_write(tmp, str(version))
    # THE commit point: atomic on POSIX; readers see old or new, never a mix
    os.rename(tmp, os.path.join(cdir, _CURRENT))


def _publish_pending(output_dir: str) -> int:
    """Roll CURRENT forward over fully-written but unpublished manifests.

    A writer that dies between linking ``manifest-v<N>`` into place and
    renaming CURRENT leaves a complete, fsynced version file that no
    pointer references — without recovery every later CAS would collide
    with it forever (write-wedged catalog). Version files are complete by
    construction (written to a temp name, fsynced, then ``link(2)``-ed in),
    so publishing them is always safe; racing with the original writer's
    own rename is idempotent (same value). Writers call this on entry and
    on CAS conflict; readers never write. Returns the version published.

    Starts from the RAW pointer (not the rolled-forward
    :func:`current_version`) so a lagging pointer file is actually
    advanced — otherwise the read-side roll-forward scan would grow one
    ``exists()`` per commit forever. A concurrent faster writer can make
    one of these renames transiently move CURRENT backwards; that is
    harmless because readers roll forward over the manifest files
    themselves (:func:`current_version`), and the loop's next iteration
    (or the next writer) repairs the pointer.
    """
    v = _pointer_version(output_dir)
    while os.path.exists(_manifest_path(output_dir, v + 1)):
        _swap_current(output_dir, v + 1)
        v += 1
    return v


def _catalog_origin(manifest: dict) -> str | None:
    """Writer family that owns this catalog: ``'batch'`` (extraction jobs),
    ``'stream'`` (micro-batch sink), or ``'table'`` (generic full-snapshot
    commits). Recorded explicitly by each writer and preserved across
    :func:`compact`; for pre-origin manifests it is inferred — epoch-scoped
    keys mean a stream wrote them, plain keys pointing at non-compaction
    run dirs mean a batch writer did. Mixing families in one catalog is
    refused by the writers (see :func:`commit_stream_batch` /
    :func:`run_extraction_job_atomic`): batch and epoch keys covering the
    same rows would BOTH stay visible and double-emit."""
    o = manifest.get("origin")
    if o:
        return o
    if any("/" in k for k in manifest["buckets"]):
        return "stream"
    # Any live plain-key bucket — even one whose run_id is a 'compact-*'
    # rewrite of pre-origin batch data — means a non-stream writer owns
    # this catalog: streaming epoch keys landing beside those plain keys
    # would double-emit the same rows, so the stream guard must refuse.
    if any(e["run_id"] is not None for e in manifest["buckets"].values()):
        return "batch"
    return None


def _commit_manifest(output_dir: str, base: dict, updates: dict) -> dict:
    """Compare-and-swap one manifest version on top of ``base``.

    Raises :class:`CommitConflict` if another writer claimed the version
    first (caller reloads CURRENT and retries on fresh state). The version
    file is written complete + fsynced under a temp name and ``link(2)``-ed
    into place, so an existing ``manifest-v<N>`` is ALWAYS complete — which
    is what makes :func:`_publish_pending`'s roll-forward safe.
    """
    os.makedirs(_commit_dir(output_dir), exist_ok=True)
    new_version = int(base.get("version", 0)) + 1
    manifest = {
        "version": new_version,
        "buckets": {**base.get("buckets", {}), **updates},
    }
    for extra in ("stats", "schema", "origin", "n_buckets"):
        if base.get(extra):
            manifest[extra] = base[extra]
    path = _manifest_path(output_dir, new_version)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    _fsync_write(tmp, json.dumps(manifest, sort_keys=True))
    try:
        os.link(tmp, path)  # atomic exclusive publish of a COMPLETE file
    except FileExistsError as e:
        os.remove(tmp)
        # unwedge a dead writer's orphan before surfacing the conflict, so
        # the caller's reload sees the published version and can retry
        _publish_pending(output_dir)
        raise CommitConflict(f"manifest v{new_version} already exists") from e
    os.remove(tmp)
    _swap_current(output_dir, new_version)
    return manifest


# -- table reads (manifest-scoped: snapshot isolation for free) -------------


def _run_dir(output_dir: str, run_id: str) -> str:
    return os.path.join(output_dir, "data", run_id)


def _empty_frame(spark: SparkSession, manifest: dict) -> DataFrame:
    """Empty frame in the TABLE's schema: generic tables record their
    schema in the manifest (:func:`commit_table`), extraction tables fall
    back to the transcript-results schema — so the no-rows path and the
    some-rows path of a reader always agree on columns."""
    if manifest.get("schema"):
        from pyspark.sql import types as T

        return local_frame(spark, [], T.StructType.fromJson(manifest["schema"]))
    return _empty_results_frame(spark)


def read_results(
    spark: SparkSession, output_dir: str, version: int | None = None
) -> DataFrame:
    """Rows of exactly the buckets the (CURRENT or pinned) manifest commits.

    One ``spark.read`` per referenced run dir (runs are few — one per
    writer invocation or micro-batch), each with ``basePath`` so the
    ``bucket=`` partition column survives and partition pruning applies;
    uncommitted/orphaned run dirs are invisible by construction. Entry keys
    are ``"<bucket>"`` for batch runs and ``"<epoch>/<bucket>"`` for
    streaming commits (:func:`commit_stream_batch`).
    """
    m = load_manifest(output_dir, version)
    by_run: dict[str, list[int]] = {}
    for b, ent in m["buckets"].items():
        if ent["run_id"] is not None and ent["turn_count"] > 0:
            by_run.setdefault(ent["run_id"], []).append(int(b.split("/")[-1]))
    return _read_runs(spark, output_dir, m, by_run)


def _read_runs(
    spark: SparkSession, output_dir: str, manifest: dict, by_run: dict
) -> DataFrame:
    """Union of the ``{run_id: [bucket, ...]}`` partitions, each read
    partition-pruned with ``basePath`` so the ``bucket`` column survives;
    the table's empty frame when there are none."""
    frames = [
        spark.read.option("basePath", _run_dir(output_dir, rid)).parquet(
            *[os.path.join(_run_dir(output_dir, rid), f"bucket={b}") for b in sorted(set(bs))]
        )
        for rid, bs in sorted(by_run.items())
    ]
    if not frames:
        return _empty_frame(spark, manifest)
    out = frames[0]
    for f in frames[1:]:
        # schema evolution across runs: a run written before a column was
        # added reads as null for it (parquet files are immutable; the
        # union is the merge point, like Iceberg's add-column metadata-only
        # evolution)
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_incremental(
    spark: SparkSession,
    output_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows of commit units added or changed between two manifest versions
    (CDC-style incremental read; granularity = the commit key, so a
    re-extracted bucket is re-emitted in full).

    A downstream pipeline that processed version ``from_version`` calls this
    to get exactly the new data: manifest keys whose entry appeared or
    changed content since then. Because data files are immutable and a
    key's entry only ever changes by pointing at a NEW run dir, the manifest
    diff IS the change log — no file listing, no timestamps. Reads are
    partition-pruned to exactly the changed (run_id, bucket) pairs, so the
    cost scales with the delta, not the table.

    Compaction rewrites entries without changing rows; its keys are skipped
    when the merged content hash is unchanged (plain-key entry whose hash
    equals the XOR of the prior epoch entries for that bucket), so consumers
    don't reprocess compacted-but-identical data.

    Scope: this is an APPEND/REPLACE change feed — rows of added or
    re-extracted commit units. Deletions emit nothing here, and a consumer
    that must react to them must diff the manifests' KEY SETS, not just
    ``run_id`` transitions: a full-snapshot :func:`commit_table` replace
    builds on an empty base, so prior keys with a different ``n_buckets``
    or epoch-scoped layout are REMOVED outright (absent from the new
    manifest) rather than tombstoned to ``run_id`` None — only same-layout
    buckets empty under the new snapshot get the None tombstone. The
    complete delete signal is ``set(load_manifest(v_old)['buckets']) -
    {k for k, e in load_manifest(v_new)['buckets'].items()
    if e['run_id'] is not None}``.
    """
    old = load_manifest(output_dir, from_version)
    new = load_manifest(output_dir, to_version)  # None → CURRENT

    # combined per-bucket (rows, spans, hash) of the OLD version: a plain-key
    # entry matching it is a compaction product, not new data
    old_stats = _combine(old["buckets"])

    by_run: dict[str, list[int]] = {}
    for k, e in new["buckets"].items():
        if e["run_id"] is None or e["turn_count"] <= 0:
            continue
        prior = old["buckets"].get(k)
        if prior is not None and prior["run_id"] == e["run_id"]:
            continue  # unchanged entry
        if (
            prior is not None
            and prior["partition_hash"] == e["partition_hash"]
            and prior["turn_count"] == e["turn_count"]
        ):
            continue  # identical recommit (e.g. replayed streaming epoch)
        b = int(k.split("/")[-1])
        t, _, h = old_stats.get(b, (None, None, None))
        if "/" not in k and (t, h) == (
            e["turn_count"],
            int(e["partition_hash"], 16),
        ):
            continue  # compacted: same rows under a new key/run
        by_run.setdefault(e["run_id"], []).append(b)
    return _read_runs(spark, output_dir, new, by_run)


#: certification columns for the extraction tables (the default schema);
#: generic tables record their own choice in the manifest's "stats" block
DEFAULT_STATS = {
    "hash_cols": ["conv_id", "turn_idx", "extracted_text"],
    "sum_col": "span_count",
}


def _bucket_stats(df: DataFrame, stats: dict = DEFAULT_STATS) -> dict:
    """``{bucket: row(turn_count, span_count, partition_hash)}`` recomputed
    from data in one aggregate — the certification every commit and
    :func:`verify` use. ``bit_xor(xxhash64(...))`` is order-insensitive AND
    XOR-combinable: the hash of a union of disjoint row sets is the XOR of
    their hashes, which is what lets epoch-scoped entries of one bucket be
    checked against its merged data (:func:`_combine`).

    ``stats`` names the hashed columns and the summed one (default: the
    extraction schema); generic tables (:func:`commit_table`) record their
    own choice in the manifest's ``stats`` block so later compactions
    recompute the same certification."""
    sc = stats.get("sum_col")
    rows = (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            (F.sum(sc) if sc else F.lit(0).cast("long")).alias("span_count"),
            F.format_string(
                "%x",
                F.bit_xor(F.xxhash64(*[F.col(c) for c in stats["hash_cols"]])),
            ).alias("partition_hash"),
        )
        .collect()
    )
    return {int(r["bucket"]): r for r in rows}


def _stat(e) -> tuple[int, int, int]:
    return (
        int(e["turn_count"]),
        int(e["span_count"] or 0),
        int(e["partition_hash"], 16),
    )


def _combine(entries: dict) -> dict[int, tuple[int, int, int]]:
    """Per-bucket ``(turns, spans, hash)`` of manifest entries keyed
    ``"<bucket>"`` or ``"<epoch>/<bucket>"``: counts sum, hashes XOR."""
    out: dict[int, tuple[int, int, int]] = {}
    for k, e in entries.items():
        b = int(k.split("/")[-1])
        t, s, h = out.get(b, (0, 0, 0))
        et, es, eh = _stat(e)
        out[b] = (t + et, s + es, h ^ eh)
    return out


def _bad_buckets(want: dict, got: dict) -> list[int]:
    """Buckets where combined entries (:func:`_combine`) disagree with
    recomputed stats (:func:`_bucket_stats`). A bucket absent on either
    side counts as ``(0, 0, 0)``: an entry with no rows must have no data,
    and data must have an entry."""
    zero = (0, 0, 0)
    return sorted(
        b
        for b in set(want) | set(got)
        if want.get(b, zero) != (_stat(got[b]) if b in got else zero)
    )


def verify(
    spark: SparkSession, output_dir: str, entries: dict | None = None
) -> tuple[int, int, bool]:
    """Recompute :func:`_bucket_stats` over :func:`read_results` and check
    it bucket by bucket against ``entries`` (``{key: entry}``, CURRENT's
    entries by default; any mapping with ``partition_hash``/``turn_count``/
    ``span_count`` works, e.g. lineage rows keyed by bucket). Returns the
    recomputed ``(turns, spans, ok)``."""
    m = load_manifest(output_dir)
    got = _bucket_stats(
        read_results(spark, output_dir, m["version"]),
        m.get("stats") or DEFAULT_STATS,
    )
    bad = _bad_buckets(_combine(m["buckets"] if entries is None else entries), got)
    return (
        sum(_stat(r)[0] for r in got.values()),
        sum(_stat(r)[1] for r in got.values()),
        not bad,
    )


def _write_run(
    df: DataFrame, output_dir: str, run_id: str, stats: dict = DEFAULT_STATS
) -> dict:
    """The catalog's one write: ``df`` (already carrying ``bucket``) lands
    in the fresh immutable run dir ``data/<run_id>/bucket=*``, is read back
    and certified by :func:`_bucket_stats`. Returns ``{bucket: stats row}``.

    The read-back uses the frame's own schema: a zero-row ``partitionBy``
    write leaves only ``_SUCCESS``, on which schema inference raises
    UNABLE_TO_INFER_SCHEMA — with the schema it is a readable empty frame,
    so an all-empty commit degrades to tombstone entries."""
    rdir = _run_dir(output_dir, run_id)
    df.write.mode("errorifexists").partitionBy("bucket").parquet(rdir)
    written = (
        df.sparkSession.read.schema(df.schema).option("basePath", rdir).parquet(rdir)
    )
    return _bucket_stats(written, stats)


def _entry(run_id: str, snapshot: str, row) -> dict:
    """Manifest entry for one key from its :func:`_bucket_stats` row; a
    None row is the tombstone of a bucket empty under ``snapshot``."""
    if row is None:
        return {
            "run_id": None,
            "snapshot": snapshot,
            "partition_hash": EMPTY_BUCKET_HASH,
            "turn_count": 0,
            "span_count": 0,
        }
    t, s, _ = _stat(row)
    return {
        "run_id": run_id,
        "snapshot": snapshot,
        "partition_hash": row["partition_hash"],
        "turn_count": t,
        "span_count": s,
    }


def compact(
    spark: SparkSession, output_dir: str, buckets: list[int] | None = None
) -> dict:
    """Rewrite the CURRENT snapshot's data into ONE fresh run dir and swap
    in a manifest where every (selected) bucket points at it.

    The streaming sink (:func:`commit_stream_batch`) deliberately trades
    layout for latency: one immutable run dir per micro-batch, so a
    long-running stream accretes the classic small-files problem (at 100 TB,
    thousands of epoch dirs × buckets of small parquet files — metadata
    pressure on every read). Compaction collapses them, Iceberg
    ``rewrite_data_files``-style: readers see the uncompacted or compacted
    version atomically, never a mix; the superseded run dirs become orphans
    for :func:`vacuum`.

    Scale shape: the rewrite is a scan→write with NO shuffle — every input
    file already belongs to exactly one ``bucket=`` dir, so ``partitionBy``
    re-bins rows without moving them across partitions. Pass ``buckets`` to
    compact an ID range incrementally (epoch keys for other buckets are
    left untouched), which is how a 100 TB table compacts in bounded units.

    Integrity: the compacted per-bucket hash must equal the XOR of the
    merged entries' hashes and the counts must sum (:func:`_combine`, the
    same comparison :func:`verify` makes). On mismatch
    :class:`CompactionIntegrityError` aborts BEFORE the swap — CURRENT is
    untouched and the half-written dir is vacuumable.

    Snapshot identity: a bucket whose merged entries all share one source
    snapshot keeps it (batch resume stays a no-op); mixed-epoch buckets
    get ``compacted:v<N>`` — a later batch run over those buckets falls
    back to conservative re-extraction, never silent reuse.
    """
    _publish_pending(output_dir)
    m = load_manifest(output_dir)
    sel = None if buckets is None else set(buckets)
    merged = {
        k: e
        for k, e in m["buckets"].items()
        if sel is None or int(k.split("/")[-1]) in sel
    }
    if not merged:
        return m
    snaps: dict[int, set] = {}
    for k, e in merged.items():
        snaps.setdefault(int(k.split("/")[-1]), set()).add(e["snapshot"])

    run_id = f"compact-v{m['version']}-{uuid.uuid4().hex[:8]}"
    rows = read_results(spark, output_dir, version=m["version"])
    if sel is not None:
        rows = rows.filter(F.col("bucket").isin(sorted(sel)))
    stats = _write_run(rows, output_dir, run_id, m.get("stats") or DEFAULT_STATS)
    bad = _bad_buckets(_combine(merged), stats)
    if bad:
        raise CompactionIntegrityError(
            f"compacted buckets {bad} do not match the manifest "
            f"(run dir {run_id} left orphaned; CURRENT not advanced)"
        )
    updates = {
        str(b): _entry(
            run_id,
            next(iter(ss)) if len(ss) == 1 else f"compacted:v{m['version']}",
            stats.get(b),
        )
        for b, ss in snaps.items()
    }

    def _carry(src: dict) -> dict:
        # full key replacement for the merged keys: carry forward every
        # OTHER key and the table's blocks. The writer family survives the
        # rewrite (a compacted streaming catalog must still refuse batch
        # writers, and vice versa); it is inferred for pre-origin manifests
        # while the epoch keys still show it.
        return {
            "version": src["version"],
            "buckets": {k: e for k, e in src["buckets"].items() if k not in merged},
            "stats": src.get("stats"),
            "schema": src.get("schema"),
            "n_buckets": src.get("n_buckets"),
            "origin": _catalog_origin(src),
        }

    # CAS on top of the version we compacted. If a concurrent writer (e.g.
    # the streaming sink) committed meanwhile, retry on the fresh manifest
    # — safe iff every key we merged is still there unchanged (new epochs
    # are simply carried forward; a replaced/removed merged key means our
    # run dir no longer reflects the table → abort).
    base = _carry(m)
    while True:
        try:
            return _commit_manifest(output_dir, base, updates)
        except CommitConflict:
            fresh = load_manifest(output_dir)
            for k, e in merged.items():
                cur = fresh["buckets"].get(k)
                if cur is None or cur["run_id"] != e["run_id"]:
                    raise CompactionIntegrityError(
                        f"merged key {k!r} changed during compaction "
                        f"(run dir {run_id} left orphaned; CURRENT not "
                        "advanced by this compaction)"
                    )
            base = _carry(fresh)


def vacuum(
    output_dir: str,
    keep_versions: int = 0,
    min_age_seconds: float = 0.0,
) -> list[str]:
    """Delete run dirs not referenced by any RETAINED manifest (orphans
    from crashed or superseded runs), manifests older than the retention
    window, and leaked commit and lineage temp files. Returns the removed
    paths.
    Never touches referenced data — safe to run any time no OTHER writer
    is mid-commit (same contract as Iceberg's expire_snapshots +
    remove_orphan_files).

    Retention policy (Iceberg expire_snapshots knobs):

    * ``keep_versions=N`` retains the last N manifest versions BEFORE
      CURRENT (and every run dir any of them references), so time travel
      via ``load_manifest(version=...)`` / ``read_results(version=...)``
      keeps working over that window. Default 0 = only CURRENT survives.
    * ``min_age_seconds`` is the grace period. It protects (a) a version
      SUPERSEDED less than that long ago — judged by the mtime of its
      SUCCESSOR manifest file, i.e. the moment readers could last have
      loaded it as CURRENT — together with every run dir it references
      (the slow-reader guarantee: a reader that loaded CURRENT within the
      window can finish its scan), and (b) any run dir or temp file whose
      NEWEST content is younger than the window (the in-flight-writer
      guarantee: a long parquet write keeps touching files, so its
      unpublished dir stays protected however long the write runs).
      Default 0 = age-blind.

    Runs the roll-forward FIRST: a dead writer's unpublished-but-complete
    manifest must become CURRENT before liveness is computed — otherwise
    vacuum would delete its run dir while leaving the orphan manifest
    publishable, and a later roll-forward would point CURRENT at vacuumed
    data."""
    import shutil
    import time

    _publish_pending(output_dir)
    removed: list[str] = []
    cur = current_version(output_dir)
    oldest_kept = max(1, cur - max(0, int(keep_versions)))
    cutoff = time.time() - max(0.0, min_age_seconds)

    def _old_enough(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except OSError:
            return False  # vanished or unreadable: leave it alone

    def _superseded_before_cutoff(v: int) -> bool:
        # version v stopped being CURRENT the moment v+1 was PUBLISHED.
        # The successor file's mtime is its write time — usually also the
        # publish time, EXCEPT when the successor sat unpublished (writer
        # died before the CURRENT rename) and a later roll-forward (e.g.
        # this vacuum's own _publish_pending) flipped CURRENT: readers
        # kept loading v until that flip. For v == cur-1 the CURRENT
        # pointer's own mtime records that flip, so take the max.
        try:
            t = os.path.getmtime(_manifest_path(output_dir, v + 1))
        except OSError:
            return True  # successor already expired → superseded long ago
        if v + 1 == cur:
            try:
                t = max(
                    t,
                    os.path.getmtime(
                        os.path.join(_commit_dir(output_dir), _CURRENT)
                    ),
                )
            except OSError:
                pass
        return t <= cutoff

    keep = {
        v
        for v in range(1, cur + 1)
        if v >= oldest_kept or not _superseded_before_cutoff(v)
    }
    live: set[str] = set()
    for v in sorted(keep):
        try:
            m = load_manifest(output_dir, v)
        except FileNotFoundError:
            continue  # already expired by an earlier, stricter vacuum
        live |= {
            e["run_id"]
            for e in m["buckets"].values()
            if e["run_id"] is not None
        }

    def _tree_old_enough(path: str) -> bool:
        # in-flight-writer guard: judge a run dir by its NEWEST entry (the
        # top-level dir mtime goes stale while parquet files are still
        # being written underneath it)
        try:
            newest = os.path.getmtime(path)
            for root, _dirs, files in os.walk(path):
                for f in files:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(root, f))
                    )
            return newest <= cutoff
        except OSError:
            return False

    data = os.path.join(output_dir, "data")
    if os.path.isdir(data):
        for rid in sorted(os.listdir(data)):
            p = os.path.join(data, rid)
            if rid not in live and _tree_old_enough(p):
                shutil.rmtree(p)
                removed.append(p)
    cdir = _commit_dir(output_dir)
    if os.path.isdir(cdir):
        for name in sorted(os.listdir(cdir)):
            p = os.path.join(cdir, name)
            if name.startswith(f"{_CURRENT}.tmp."):
                # a writer killed inside _swap_current between the fsync'd
                # temp write and the rename — nothing references the temp
                if _old_enough(p):
                    os.remove(p)
                    removed.append(p)
                continue
            if not name.startswith("manifest-v"):
                continue
            if ".tmp." in name:
                # a writer killed between temp write and link(2) — content
                # may be incomplete and nothing references it
                if _old_enough(p):
                    os.remove(p)
                    removed.append(p)
                continue
            v = int(name[len("manifest-v"):-len(".json")])
            if v not in keep:
                os.remove(p)
                removed.append(p)
    ldir = _lineage_dir(output_dir)
    if os.path.isdir(ldir):
        for name in sorted(os.listdir(ldir)):
            p = os.path.join(ldir, name)
            # a writer killed inside append_lineage before the rename —
            # hidden from readers, and never renamed by anyone else
            if name.startswith(".") and name.endswith(".tmp") and _old_enough(p):
                os.remove(p)
                removed.append(p)
    return removed


# -- the atomic extraction job ----------------------------------------------


def run_extraction_job_atomic(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    run_id: str | None = None,
    n_buckets: int = 16,
    buckets_per_commit: int = 4,
    fail_after_commits: int | None = None,
    mode: str = "sparse",
) -> dict:
    """Extract all pending buckets of ``transcripts`` into the catalog at
    ``output_dir`` — the engine's one batch extraction job.

    Scale shape: ONE source scan extracts all pending buckets into an
    immutable per-run dir, and ONE aggregate over the WRITTEN partitions
    certifies them all (:func:`_write_run`); commits then follow in
    ``buckets_per_commit`` units, each made visible by a manifest swap —
    so a kill at any point leaves readers on the previous fully-consistent
    version (the kill/rerun test drives ``fail_after_commits`` through
    every position). Resume skips the buckets CURRENT already commits
    under the same source snapshot. Lineage parquet rows are appended
    BEFORE the swap: the manifest is the visibility authority, the lineage
    table the audit log.
    """
    from ..operators.extraction import extract_turns

    run_id = run_id or uuid.uuid4().hex
    snapshot = source_fingerprint(transcripts)

    _publish_pending(output_dir)  # recover a dead writer's unpublished swap
    manifest = load_manifest(output_dir)
    if any("/" in k for k in manifest["buckets"]):
        # epoch-scoped streaming keys and plain batch keys for the same
        # buckets would BOTH stay visible (read_results unions all keys) —
        # every row would surface twice. Refuse the ill-defined mix. A
        # COMPACTED streaming catalog (plain layout) is legal: the batch
        # job's plain keys atomically replace the stream's bucket by
        # bucket, which flips ownership to 'batch' below — after which the
        # streaming sink refuses further commits here.
        raise ValueError(
            "catalog contains streaming epoch-scoped commits; run "
            "compact() first to collapse it to a plain bucket layout"
        )
    if manifest.get("stats") not in (None, DEFAULT_STATS):
        # the symmetric guard to commit_table's: extraction entries are
        # certified with DEFAULT_STATS columns; committing them into a
        # generic-certified table would carry its stats/schema blocks over
        # entries they don't describe (and wedge every later compact)
        raise ValueError(
            f"catalog at {output_dir} is certified with stats columns "
            f"{manifest['stats']}; the extraction job refuses to mix "
            "certifications (vacuum/recreate the table)"
        )
    prev_n = manifest.get("n_buckets")
    if prev_n is not None and int(prev_n) != int(n_buckets):
        # a different bucket layout does NOT supersede key-by-key: rows
        # re-hash mod the new count, so live keys from the old layout stay
        # visible next to the re-hashed rows (double emission). Refuse.
        raise ValueError(
            f"catalog at {output_dir} was committed with n_buckets="
            f"{prev_n}; this job uses n_buckets={n_buckets} — layouts "
            "don't mix (re-run with the recorded layout, or "
            "vacuum/recreate the table)"
        )
    if prev_n is None and manifest["buckets"]:
        # legacy manifest without the recorded layout: every recorded key
        # (live OR tombstoned) belongs to the old layout, so the old
        # n_buckets is at least max_key+1 — refuse BOTH directions of
        # mismatch (a shrink leaves live out-of-range keys visible; a
        # grow lets same-snapshot resume skip old-layout `done` buckets
        # while re-hashing rows mod the new count — double emission
        # either way). Conservative for a killed-mid-first-run legacy
        # catalog (max_key may undershoot); such catalogs predate this
        # build and the error names the vacuum/recreate escape.
        inferred = 1 + max(
            int(k) for k in manifest["buckets"] if "/" not in k
        )
        if inferred != int(n_buckets):
            raise ValueError(
                f"catalog records buckets implying n_buckets>={inferred} "
                f"(no recorded layout); this job uses n_buckets="
                f"{n_buckets} — layouts don't mix (double emission); use "
                f"n_buckets={inferred} or vacuum/recreate the table"
            )
    manifest["n_buckets"] = int(n_buckets)
    manifest["origin"] = "batch"
    done = {
        int(b)
        for b, e in manifest["buckets"].items()
        if e["snapshot"] == snapshot
    }
    pending = [b for b in range(n_buckets) if b not in done]

    commits = 0
    processed: list[int] = []
    if pending:
        bucketed = with_bucket(transcripts, n_buckets)
        subset = (
            bucketed
            if len(pending) == n_buckets
            else bucketed.filter(F.col("bucket").isin(pending))
        )
        extracted = with_bucket(extract_turns(subset, mode=mode), n_buckets)
        stats = _write_run(extracted, output_dir, run_id)
        if fail_after_commits == 0:
            # kill-test hook: die after the (invisible) data write, before
            # any manifest swap — the hardest crash position
            raise SimulatedFailure(f"injected failure before first commit (run {run_id})")

        for i in range(0, len(pending), buckets_per_commit):
            batch = pending[i : i + buckets_per_commit]
            updates = {str(b): _entry(run_id, snapshot, stats.get(b)) for b in batch}
            append_lineage(spark, output_dir, run_id, updates)
            manifest = _commit_manifest(output_dir, manifest, updates)
            processed.extend(batch)
            commits += 1
            if fail_after_commits is not None and commits >= fail_after_commits:
                raise SimulatedFailure(
                    f"injected failure after {commits} commits (run {run_id})"
                )

    return {
        "run_id": run_id,
        "source_snapshot_id": snapshot,
        "buckets_processed": processed,
        "buckets_skipped": sorted(done),
        "commits": commits,
        "manifest_version": manifest["version"],
    }


def commit_stream_batch(
    batch_df: DataFrame,
    epoch: int,
    output_dir: str,
    n_buckets: int = 8,
) -> dict | None:
    """``foreachBatch`` sink body: commit one micro-batch atomically.

    The batch's extracted rows land in a fresh immutable run dir and become
    visible under epoch-scoped manifest keys ``"<epoch>/<bucket>"`` in one
    CURRENT swap — a reader never sees a partially-written micro-batch
    (unlike a plain parquet ``batch=<id>`` sink, whose files appear one by
    one). A replayed epoch (restart between sink write and streaming-
    checkpoint commit) deterministically re-commits the SAME keys pointing
    at a fresh dir; the superseded dir is orphaned and reclaimed by
    :func:`vacuum` — exactly-once *visible* state without any sink-side
    dedup. Returns the new manifest (None for an empty batch).
    """
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return None
    _publish_pending(output_dir)

    def _base() -> dict:
        b = load_manifest(output_dir)
        origin = _catalog_origin(b)
        if origin in ("batch", "table"):
            # the inverse of run_extraction_job_atomic's guard: plain keys
            # of another writer family and epoch-scoped streaming keys for
            # the same rows would BOTH stay visible (read_results unions all
            # keys), double-emitting them — and a later compact() would fold
            # the duplicates in permanently. Refuse the ill-defined mix.
            # Compaction-produced plain keys are fine (origin stays 'stream'
            # across compact()), so a long-running stream survives periodic
            # compaction.
            raise ValueError(
                f"catalog contains {origin}-committed keys; streaming "
                "commits refuse to mix with them (use a fresh output_dir)"
            )
        if b.get("stats") not in (None, DEFAULT_STATS):
            # streaming entries are certified with DEFAULT_STATS columns;
            # committing them into a generic commit_table certification
            # would carry its stats/schema blocks over entries they don't
            # describe
            raise ValueError(
                f"catalog at {output_dir} is certified with stats columns "
                f"{b['stats']}; the streaming sink refuses to mix "
                "certifications (vacuum/recreate the table)"
            )
        b["origin"] = "stream"
        return b

    base = _base()
    run_id = f"epoch{epoch}-{uuid.uuid4().hex[:8]}"
    stats = _write_run(with_bucket(batch_df, n_buckets), output_dir, run_id)
    snapshot = f"epoch:{epoch}"
    updates = {f"{epoch}/{b}": _entry(run_id, snapshot, r) for b, r in stats.items()}
    append_lineage(spark, output_dir, run_id, updates)
    # single streaming writer per checkpoint → CAS conflicts only on a true
    # concurrent-writer misconfiguration; reload once (re-running the
    # guards: a writer of another family may have committed meanwhile)
    # then surface it
    try:
        return _commit_manifest(output_dir, base, updates)
    except CommitConflict:
        return _commit_manifest(output_dir, _base(), updates)


def commit_table(
    df: DataFrame,
    output_dir: str,
    key_col: str,
    n_buckets: int = 64,
    hash_cols: list | tuple | None = None,
    sum_col: str | None = None,
    snapshot: str | None = None,
) -> dict:
    """Commit an ARBITRARY DataFrame as one atomic manifest-swap snapshot.

    The schema-generic face of the catalog (the extraction jobs hardwire
    the transcript schema): rows are bucketed by ``xxhash64(key_col)``,
    written to an immutable run dir, certified by read-back
    :func:`_bucket_stats` over ``hash_cols`` (default: the key column), and
    made visible in one CURRENT swap. The stats choice is recorded in the
    manifest's ``stats`` block so :func:`compact` recomputes the same
    certification later. Readers: :func:`read_results` /
    :func:`read_incremental`; re-committing appends a new version whose
    plain bucket keys supersede the old (full-snapshot-replace semantics —
    use the extraction jobs for incremental bucket-level resume).
    """
    run_id = uuid.uuid4().hex
    want_stats = {
        "hash_cols": [str(c) for c in (hash_cols or (key_col,))],
        "sum_col": sum_col,
    }
    bucketed = with_bucket(df, n_buckets, key_col)
    stats = _write_run(bucketed, output_dir, run_id, want_stats)
    snap = snapshot or f"table:{run_id[:8]}"
    # every bucket gets an entry — run_id=None tombstones buckets empty in
    # THIS snapshot, so a re-commit truly replaces (no stale rows from a
    # previous snapshot, whatever its n_buckets or key form was: the base
    # below carries no prior keys)
    updates = {str(b): _entry(run_id, snap, stats.get(b)) for b in range(n_buckets)}
    while True:
        _publish_pending(output_dir)
        m = load_manifest(output_dir)
        # absent stats on a non-empty manifest means the entries were
        # certified with the extraction defaults — treat that as an
        # explicit (and incompatible, unless equal) choice, not a blank
        effective = m.get("stats") or (DEFAULT_STATS if m["buckets"] else None)
        if effective is not None and effective != want_stats:
            # permanent misconfiguration, not a retryable CAS race — the
            # same ValueError family as the stream/batch mix guards (a
            # caller retrying CommitConflict would loop forever, orphaning
            # a fresh run dir per attempt)
            raise ValueError(
                f"table at {output_dir} is certified with stats columns "
                f"{effective}; refusing to mix certifications (vacuum/"
                "recreate the table to change them)"
            )
        base = {
            "version": m["version"],
            "buckets": {},  # full-snapshot replace
            "stats": want_stats,
            "schema": json.loads(bucketed.schema.json()),
            "origin": "table",
        }
        try:
            return _commit_manifest(output_dir, base, updates)
        except CommitConflict:
            continue  # racing writer published; re-validate on fresh state
