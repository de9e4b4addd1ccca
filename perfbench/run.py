"""Seeded, layered benchmark of the marie_icr_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 5 --trace 0

It runs as a closed loop: one driver process issues one query at a time to
an in-process ``local[nproc]`` Spark session and waits for it. A run:

1. launches the JVM, stages the workload's input from ``--seed`` (cached on
   disk; ``sources.stage_s``) and derives the expected outputs;
2. sets up ``SETUPS`` times: a new session from the engine's
   ``session.build_session`` plus one untimed extraction pass that starts
   the Python workers (``setup_s`` is the median);
3. runs the untimed job that is killed after half its commit units and one
   untimed pass of every operation (the first call of each still warms
   code paths and costs more), then timed passes until ``--seconds`` have
   gone (at least one), checking every result outside the timed region.

With ``--trace 1`` the timed passes take half the time, and a second half
runs in a session with Spark's event log on, with a job group around every
call; the per-layer metrics come from the event log, the executed plans,
and direct single-threaded calls into the extractors. Every run appends
its environment record and all figures to ``.perfbench/runs.jsonl``.

The last line of standard output is the result JSON; earlier lines hold the
environment record and per-operation detail.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
UNBOUNDED = ("noop_rerun", "readback")
EXTRACTOR_SAMPLE = 600
KINDS = ("html", "layout", "markdown", "plain", "empty")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session(event_log: bool = False):
    from marie_icr_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = nproc()
    spark = build_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stops the JVM the first session launched and waits for it: the
    gateway process exits when its standard input closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tree_usage() -> tuple[float, float]:
    """(resident MB, CPU seconds) of this process and all its descendants
    (the JVM and the Python workers it forks), from /proc. The CPU time is
    user plus system time, with that of reaped children, so time the
    hypervisor gave to other guests is not in it."""
    parent: dict[int, int] = {}
    usage: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(f[1])
        usage[int(pid)] = (int(f[21]), sum(int(x) for x in f[11:15]))
    me = os.getpid()
    pages = ticks = 0
    for pid, (rss, cpu) in usage.items():
        p = pid
        while p not in (0, 1, me) and p in parent:
            p = parent[p]
        if p == me:
            pages += rss
            ticks += cpu
    return (pages * os.sysconf("SC_PAGE_SIZE") / 2**20,
            ticks / os.sysconf("SC_CLK_TCK"))


def cpu_ticks() -> list[int]:
    """The machine-wide CPU counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two readings that the hypervisor gave
    to other guests: high values mark a run slowed by its neighbours."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def source_hash() -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "marie_icr_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


class Loop:
    """Timed passes over a workload's operations; keeps every sample."""

    def __init__(self, wl, spark):
        self.wl = wl
        self.spark = spark
        self.samples: dict[str, list[float]] = {op.name: [] for op in wl.ops}
        self.cpu: dict[str, list[float]] = {op.name: [] for op in wl.ops}
        self.attempted = 0
        self.failed = 0
        self.rss_mb: list[float] = []  # after every timed call
        self.pass_times: list[float] = []
        self.walks: dict[str, list[list[dict]]] = {op.name: [] for op in wl.ops}

    def prepare(self) -> None:
        """The workload's untimed preparation, checked like an operation."""
        self.attempted += 1
        try:
            ok = self.wl.prepare()
        except Exception:
            log(f"prepare raised:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            self.failed += 1
            log("prepare: check failed")

    def one_pass(self, timed: bool, group: str | None = None, walk: bool = False,
                 ops: list | None = None) -> None:
        total = 0.0
        self.wl.before_pass()
        for op in ops or self.wl.ops:
            if group is not None:
                self.spark.sparkContext.setJobGroup(f"{op.name}#{group}", op.name)
            _, cpu0 = tree_usage()
            t0 = time.perf_counter()
            try:
                value = op.run()
                dt = time.perf_counter() - t0
                rss, cpu1 = tree_usage()
                ok = op.check(value)
            except Exception:
                dt = time.perf_counter() - t0
                rss, cpu1 = tree_usage()
                log(f"{op.name} raised:\n{traceback.format_exc()}")
                ok = False
            self.attempted += 1
            if not ok:
                self.failed += 1
                log(f"{op.name}: output check failed")
            if timed:
                self.samples[op.name].append(dt)
                self.cpu[op.name].append(cpu1 - cpu0)
                total += dt
                self.rss_mb.append(rss)
            if walk and op.last_df is not None:
                from sparkmetrics import plan_nodes

                self.walks[op.name].append(plan_nodes(op.last_df))
        if group is not None:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        self.wl.after_pass()
        if timed:
            self.pass_times.append(total)

    def run_for(self, seconds: float, traced: bool = False) -> None:
        """Timed passes until ``seconds`` have gone (at least one); a traced
        pass runs each call in its own job group and walks its plan."""
        start = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - start < seconds:
            self.one_pass(True, group=str(n) if traced else None, walk=traced)
            n += 1

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items() if v}

    def cpu_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.cpu.items() if v}

    def pass_s(self) -> float:
        return statistics.median(self.pass_times)


def sample_payloads(staged: dict, seed: int) -> list[str]:
    import pyarrow.parquet as pq

    texts = pq.read_table(staged["transcripts"], columns=["text"]).column("text").to_pylist()
    return random.Random(seed).sample(texts, min(EXTRACTOR_SAMPLE, len(texts)))


def time_extractors(payloads: list[str]) -> dict[str, dict]:
    """Direct single-threaded calls into the extractors, per payload kind:
    median of three timed sweeps over the kind's sampled payloads."""
    from marie_icr_spark.extractors.core import extract_turn, extract_turn_arrow

    by_kind: dict[str, list[str]] = {k: [] for k in KINDS}
    for p in payloads:
        by_kind[extract_turn(p, with_structs=False).payload_kind].append(p)

    def sweep(fn, ps) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            for p in ps:
                fn(p)
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / len(ps) * 1e6

    out = {}
    for kind, ps in by_kind.items():
        names = [(kind, lambda p: extract_turn(p, with_structs=False))]
        if kind == "layout":
            names.append(("layout_structs", extract_turn_arrow))
        for name, fn in names:
            out[name] = {
                "us_per_turn": sweep(fn, ps) if ps else 0.0,
                "bytes_per_turn": statistics.mean(len(p.encode()) for p in ps) if ps else 0.0,
                "turns": float(len(ps)),
            }
    return out


def per_layer(wl, staged, loop_u: Loop, loop_t: Loop, evlog, extractors, out_stats,
              heavy: Loop | None) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run, plus the per-query coverage
    table of extract_mixed. ``heavy`` is the traced pass of the heavy
    registry queries, when this run made one."""
    from sparkmetrics import layers, task_summary
    from workloads import EXTRACT_OPS, HEAVY_QUERIES

    passes = max(1, len(loop_t.pass_times))
    groups = [f"{op.name}#{i}" for op in wl.ops for i in range(passes)]

    def nodes_of(op_names) -> list[dict]:
        return [n for g in groups if g.split("#")[0] in op_names for n in evlog.nodes(g)]

    all_ops = [op.name for op in wl.ops]
    all_nodes = nodes_of(all_ops)
    ext = layers(all_nodes, python_node="MapInArrow")
    every = layers(all_nodes)
    summ = task_summary(evlog, groups, python_node="MapInArrow")

    m: dict[str, float] = {}
    for kind in (*KINDS, "layout_structs"):
        for k, v in extractors[kind].items():
            m[f"extractors.{kind}.{k}"] = v
    for k in ("python_ms", "boot_ms", "init_ms", "bytes_sent", "bytes_received", "rows"):
        m[f"operators.extraction.{k}"] = ext[k] / passes
    m["operators.extraction.task_skew"] = summ["python_task_skew"]
    m["sources.scan_ms"] = every["scan_ms"] / passes
    m["sources.scan_bytes"] = every["scan_bytes"] / passes
    m["sources.stage_s"] = staged["stage_s"]

    asm = layers(nodes_of(["assemble"]))
    for k in ("shuffle_bytes", "shuffle_records", "shuffle_write_ms", "agg_ms"):
        m[f"operators.assembly.{k}"] = asm.get(k, 0.0) / passes

    job = [t for i in range(passes) for t in evlog.group_tasks(f"job#{i}")]
    mf = {
        "commits": float(out_stats["commits"]),
        "bytes_written_per_input_byte": (
            sum(t["out_bytes"] for t in job) / passes / staged["input_bytes"]
        ),
        "files_written": float(out_stats["files"]),
        "write_task_ms": sum(t["run_ms"] for t in job if t["out_bytes"] > 0) / passes,
        "noop_resume_s": loop_u.medians()["noop_rerun"],
        "readback_s": loop_u.medians()["readback"],
        "redone_turns": out_stats["redone_turns"],
    }
    for k, v in mf.items():
        m[f"plans.manifest.{k}"] = v

    for query, module in HEAVY_QUERIES.items():
        group = f"{query}#h"
        q = layers(evlog.nodes(group)) if heavy else {}
        m[f"{module}.wall_s"] = heavy.medians()[query] if heavy else 0.0
        for k in ("python_ms", "bytes_sent", "bytes_received", "shuffle_bytes", "exchanges"):
            m[f"{module}.{k}"] = q.get(k, 0.0)
        m[f"{module}.jobs"] = float(evlog.jobs(group)) if heavy else 0.0
        m[f"{module}.spill_bytes"] = (
            task_summary(evlog, [group])["spill_bytes"] if heavy else 0.0
        )

    m["spark.task_failures"] = float(summ["failures"])
    m["spark.gc_ms"] = summ["gc_ms"] / passes
    m["spark.task_ms.p50"] = summ["task_ms_p50"]
    m["spark.task_ms.p99"] = summ["task_ms_p99"]
    m["spark.peak_rss_mb"] = max(loop_u.rss_mb + loop_t.rss_mb)
    # share of the slot time (pass wall time x cores) the layers account for
    covered = every["scan_ms"] + every["python_ms"] + every["shuffle_write_ms"] + every["agg_ms"]
    m["spark.layer_coverage"] = covered / passes / (loop_t.pass_s() * 1e3 * nproc())
    m["tracing.overhead"] = loop_t.pass_s() / loop_u.pass_s() - 1.0

    coverage = {}
    kinds = wl.expected["kinds"]
    for name in EXTRACT_OPS:
        lay = [layers(w) for w in loop_t.walks[name]]
        avg = {k: statistics.mean(x[k] for x in lay) for k in
               ("scan_ms", "python_ms", "shuffle_write_ms", "agg_ms", "rows")}
        per_kind = {k: extractors[k]["us_per_turn"] for k in KINDS}
        if name == "structs":
            per_kind["layout"] = extractors["layout_structs"]["us_per_turn"]
        avg["extractor_ms"] = sum(kinds.get(k, [0])[0] * us for k, us in per_kind.items()) / 1e3
        slot_ms = loop_t.medians()[name] * 1e3 * nproc()
        shares = {f"{k}_share": avg[k] / slot_ms for k in
                  ("scan_ms", "python_ms", "extractor_ms", "shuffle_write_ms", "agg_ms")}
        shares["covered_share"] = (
            avg["scan_ms"] + avg["python_ms"] + avg["shuffle_write_ms"] + avg["agg_ms"]
        ) / slot_ms
        coverage[name] = {"wall_ms": slot_ms / nproc(), **avg, **shares}
    return m, coverage


def trace_heavy(spark, seed: int) -> Loop:
    """One traced call of each heavy registry query on a small seeded
    documents table; their layers are measured here rather than in a
    workload of their own (see README.md)."""
    import stage
    from workloads import HeavyQueries

    staged = stage.stage(spark, "heavy", seed, os.path.join(WORK, "stage"))
    hq = HeavyQueries(spark, staged, WORK)
    loop = Loop(hq, spark)
    loop.one_pass(timed=True, group="h")
    return loop


def per_operation(rows: int, med: dict[str, float], per: str) -> dict[str, tuple]:
    """Each operation's median as (value, unit): turns per second of ``per``
    (``s`` or ``cpu_s``), or the seconds themselves for the resume and the
    no-op rerun."""
    out = {}
    for name, t in med.items():
        if name in ("resume", "noop_rerun"):
            out[f"{name}_{per}"] = (t, per.replace("_", "-"))
        else:
            out[f"{name.removesuffix('_turns')}_turns_per_{per}"] = (
                rows / t, f"turns/{per.replace('_', '-')}"
            )
    return out


def end_to_end(wl, loop: Loop, setup_times: list[float]) -> dict[str, dict]:
    """The bounded metrics: the set-up time, and the median of each
    operation that runs for seconds, in CPU time, which leaves out the time
    the hypervisor gives to other guests. The sub-second no-op rerun and
    readback spread too far from run to run to bound (see README.md)."""
    med = {k: v for k, v in loop.cpu_medians().items() if k not in UNBOUNDED}
    values = {"setup_s": (statistics.median(setup_times), "s")}
    values.update(per_operation(wl.rows, med, "cpu_s"))
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "marie_icr_spark")):
        log(f"no engine source next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Workload

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    for d in ("stage", "tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the engine from the checkout; every temporary
    # file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    import pyarrow
    import pyspark

    import stage

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "loadavg_start": os.getloadavg()[0],
        "source_sha": source_hash(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    try:
        t_launch = time.perf_counter()
        spark = session()
        log(f"JVM and session up in {time.perf_counter() - t_launch:.1f}s")
        staged = stage.stage(spark, args.workload, args.seed, os.path.join(WORK, "stage"))
        Workload(spark, staged, WORK)  # derives and caches the expected outputs
        env.update(input_rows=staged["transcripts_rows"] or staged["documents_rows"],
                   input_bytes=staged["input_bytes"], stage_s=staged["stage_s"])
        spark.stop()
        log(f"staged in {staged['stage_s']:.1f}s; launch phase "
            f"{time.perf_counter() - t_launch:.1f}s")

        setup_times, setup_cpu = [], []
        for k in range(SETUPS):
            _, cpu0 = tree_usage()
            t0 = time.perf_counter()
            spark = session()
            wl = Workload(spark, staged, WORK)
            wl.warm()
            setup_times.append(time.perf_counter() - t0)
            setup_cpu.append(tree_usage()[1] - cpu0)
            if k < SETUPS - 1:
                spark.stop()

        log(f"set-ups took {[round(x, 2) for x in setup_times]}")
        loop_u = Loop(wl, spark)
        t0 = time.perf_counter()
        loop_u.prepare()
        loop_u.one_pass(timed=False, ops=wl.warm_ops())
        log(f"killed job and warm-up pass {time.perf_counter() - t0:.1f}s")
        measure = args.seconds / 2 if args.trace else args.seconds
        ticks = cpu_ticks()
        loop_u.run_for(measure)
        env["steal_share"] = steal_share(ticks, cpu_ticks())
        mismatched = wl.verify()
        record = {"env": env, "setup_s": setup_times, "setup_cpu_s": setup_cpu,
                  "samples": loop_u.samples, "cpu_samples": loop_u.cpu,
                  "pass_times": loop_u.pass_times, "rss_mb": loop_u.rss_mb,
                  "mismatched_turns": mismatched}
        attempted, failed = loop_u.attempted, loop_u.failed

        layer_metrics = coverage = None
        if args.trace:
            spark.stop()
            spark = session(event_log=True)
            app_id = spark.sparkContext.applicationId
            wl = Workload(spark, staged, WORK)
            wl.warm()
            loop_t = Loop(wl, spark)
            loop_t.prepare()
            loop_t.one_pass(timed=False, ops=wl.warm_ops())
            loop_t.run_for(measure, traced=True)
            attempted += loop_t.attempted
            failed += loop_t.failed
            extractors = time_extractors(sample_payloads(staged, args.seed))
            out_stats = wl.output_stats()
            heavy = None
            if wl.name == "extract_mixed":
                heavy = trace_heavy(spark, args.seed)
                attempted += heavy.attempted
                failed += heavy.failed
            spark.stop()
            from sparkmetrics import EventLog

            evlog = EventLog(os.path.join(WORK, "eventlog", app_id))
            layer_metrics, coverage = per_layer(
                wl, staged, loop_u, loop_t, evlog, extractors, out_stats, heavy
            )
            # every failed task attempt is an attempted and failed operation
            task_failures = int(layer_metrics["spark.task_failures"])
            attempted += task_failures
            failed += task_failures
            os.remove(os.path.join(WORK, "eventlog", app_id))
            record.update(traced_samples=loop_t.samples, coverage=coverage)
        spark.stop()
    finally:
        stop_jvm()

    failed += mismatched > 0
    detail = {
        "ops_median_s": loop_u.medians(),
        "ops_median_cpu_s": loop_u.cpu_medians(),
        "setup_cpu_s": statistics.median(setup_cpu),
        "peak_rss_mb": max(loop_u.rss_mb),
        "ops_samples": {k: len(v) for k, v in loop_u.samples.items()},
        **{k: v for k, (v, _) in per_operation(wl.rows, loop_u.medians(), "s").items()},
        "mismatched_turns": mismatched,
        "error_rate": failed / attempted,
    }
    env["loadavg_end"] = os.getloadavg()[0]
    record["detail"] = detail
    print(json.dumps({"env": env}))
    print(json.dumps({"detail": detail}))
    if coverage is not None:
        print(json.dumps({"coverage": coverage}))

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer_metrics.items()}
    else:
        metrics = end_to_end(wl, loop_u, setup_times)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record["result"] = result
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name.startswith("spark.task_ms"):
        return "ms"
    return {
        "us_per_turn": "us", "bytes_per_turn": "B", "turns": "count",
        "python_ms": "ms", "boot_ms": "ms", "init_ms": "ms", "bytes_sent": "B",
        "bytes_received": "B", "rows": "count", "task_skew": "ratio",
        "scan_ms": "ms", "scan_bytes": "B", "stage_s": "s", "shuffle_bytes": "B",
        "shuffle_records": "count", "shuffle_write_ms": "ms", "agg_ms": "ms",
        "commits": "count", "bytes_written_per_input_byte": "ratio",
        "files_written": "count", "write_task_ms": "ms", "noop_resume_s": "s",
        "redone_turns": "ratio", "readback_s": "s", "exchanges": "count", "jobs": "count",
        "spill_bytes": "B", "task_failures": "count", "gc_ms": "ms",
        "layer_coverage": "ratio", "overhead": "ratio", "wall_s": "s",
        "peak_rss_mb": "MB",
    }[last]


if __name__ == "__main__":
    sys.exit(main())
