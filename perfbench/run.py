#!/usr/bin/env python3
"""Delta-engine benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 20 --trace 0

Run from the repository root. One client drives a Spark ``local[N]``
session (N = min(4, cores)) in this process. The run builds its starting
tables from ``--seed`` five times (``setup_s`` is the median), warms the
engine, then runs whole workload cycles until ``--seconds`` have passed.
Every read is checked against a Python model of the table, and the whole
table is checked once at the end.

``--trace 0`` prints the end-to-end metrics (set-up time, engine work
per operation, write amplification, driver memory) and, on a line of
its own, the wall-clock latencies and throughput, which vary too much
with the host's load to gate a change (README.md). ``--trace 1`` wraps the
engine's layer entry points (``tracer.py``), runs the loop untraced for
half of ``--seconds``, traced for ``--seconds`` and untraced for another
half, and prints per-layer metrics per foreground operation of the
traced loop, plus the tracing overhead (traced minus untraced wall per
operation).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes goes under ``.perfbench_work/`` in the current
directory, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 5

# metrics a traced run must see fire on the workload that should move them
EXPECTED_NONZERO = {
    "cdc_upsert": [
        "log.commit_ms", "log.commits", "log.checkpoint_ms", "log.checkpoints",
        "plan.ms", "plan.files_kept", "plan.files_total", "dml.ms",
        "merge.ms", "merge.files_removed", "merge.files_added",
        "merge.rows_copied_per_changed_row", "writer.ms", "writer.files", "writer.bytes",
    ],
    "stream_cdc": [
        "log.commit_ms", "log.commits", "log.checkpoint_ms", "log.checkpoints", "dml.ms",
        "merge.ms", "merge.files_removed", "merge.files_added",
        "merge.rows_copied_per_changed_row", "writer.ms", "writer.files", "writer.bytes",
        "sink.batch_ms", "stream.overhead_ms", "stream.start_ms",
        "fs.list_calls", "fs.read_calls", "fs.write_calls",
        "spark.jobs", "spark.tasks", "py4j.calls",
    ],
    "skipping_read": [
        "log.snapshot_ms", "log.snapshot_calls", "log.commit_ms", "log.commits",
        "plan.ms", "plan.files_kept", "plan.files_total", "dml.ms",
        "scan.plan_ms", "scan.files_planned",
        "fs.list_calls", "fs.read_calls", "fs.write_calls",
    ],
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0  # 0 only when every op failed


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples above it, as
    (value, percentile); the median when there are 20 samples or fewer."""
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def prepare_env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(min(4, os.cpu_count() or 1))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JODIE_SPARK_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def count_tasks(spark, j0: int, j1: int) -> int:
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for j in range(j0, j1):
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            tasks += sinfo.numTasks if sinfo else 0
    return tasks


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, (0, 0) where
    ``/proc/stat`` is missing. Steal is time the hypervisor gave this
    VM's CPUs to someone else; it explains runs that are slow overall."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def run_loop(wl, seconds: float, span):
    from workloads import Recorder

    rec = Recorder()
    wl.mark_loop_start()
    with wl.py4j.pause():
        j0 = next_job_id(wl.spark)
    p0 = wl.py4j.calls
    s0, n0 = cpu_ticks()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        wl.cycle(rec, span)
    wall = time.perf_counter() - t0
    s1, n1 = cpu_ticks()
    rec.py4j_calls = wl.py4j.calls - p0
    with wl.py4j.pause():
        rec.job_ids = (j0, next_job_id(wl.spark))
    rec.spark_jobs = rec.job_ids[1] - j0
    rec.steal_pct = 100.0 * (s1 - s0) / max(n1 - n0, 1)
    return rec, wall


def end_to_end(rec, wl, setup_s: float) -> dict[str, tuple[float, str]]:
    ops = max(rec.ops, 1)
    return {
        "setup_s": (setup_s, "s"),
        "spark_jobs_per_op": (rec.spark_jobs / ops, "count"),
        "py4j_calls_per_op": (rec.py4j_calls / ops, "count"),
        "write_amp": (wl.added_bytes() / max(wl.change_bytes, 1), "ratio"),
        "driver_peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
    }


def wall_clock(rec, wall: float) -> dict[str, tuple[float, str]]:
    """Latency and throughput as a user waits for them. Printed, but not
    in the result line: CPU steal on a shared host moves them between
    runs by more than a regression bound (see README.md)."""
    return {
        "read_p50_ms": (median(rec.reads_ms), "ms"),
        "read_tail_ms": (tail(rec.reads_ms)[0], "ms"),
        "write_p50_ms": (median(rec.writes_ms), "ms"),
        "write_tail_ms": (tail(rec.writes_ms)[0], "ms"),
        "ops_per_s": (rec.ops / wall, "1/s"),
    }


def per_layer(tracer, rec, wall: float, stream: dict[str, float], untraced_per_op_ms: float,
              tasks: int):
    ops = max(rec.ops, 1)
    c = tracer.counters
    tot = tracer.totals_ms()
    selfs = tracer.self_ms_by_layer()
    m: dict[str, tuple[float, str]] = {}

    def per_op(name, value, unit):
        m[name] = (value / ops, unit)

    per_op("log.snapshot_ms", tot.get("log.snapshot", 0.0), "ms")
    per_op("log.snapshot_calls", c["log.snapshot_calls"], "count")
    per_op("log.commit_ms", tot.get("log.commit", 0.0), "ms")
    per_op("log.commits", c["log.commits"], "count")
    per_op("log.checkpoint_ms", tot.get("log.checkpoint", 0.0), "ms")
    per_op("log.checkpoints", c["log.checkpoints"], "count")
    per_op("plan.ms", tot.get("plan", 0.0), "ms")
    per_op("plan.files_kept", c["plan.files_kept"], "count")
    per_op("plan.files_total", c["plan.files_total"], "count")
    per_op("dml.ms", tot.get("dml", 0.0), "ms")
    per_op("merge.ms", tot.get("merge", 0.0), "ms")
    per_op("merge.files_removed", c["merge.files_removed"], "count")
    per_op("merge.files_added", c["merge.files_added"], "count")
    m["merge.rows_copied_per_changed_row"] = (
        c["merge.rows_copied"] / max(c["merge.rows_changed"], 1), "ratio")
    per_op("writer.ms", tot.get("writer", 0.0), "ms")
    per_op("writer.files", c["writer.files"], "count")
    per_op("writer.bytes", c["writer.bytes"], "bytes")
    m["sink.batch_ms"] = (stream.get("sink.batch_ms", 0.0), "ms")
    m["stream.overhead_ms"] = (stream.get("stream.overhead_ms", 0.0), "ms")
    m["stream.start_ms"] = (stream.get("stream.start_ms", 0.0), "ms")
    per_op("scan.plan_ms", c["scan.plan_ms"], "ms")
    per_op("scan.files_planned", c["scan.files_planned"], "count")
    for kind in ("list", "read", "write"):
        per_op(f"fs.{kind}_calls", c[f"fs.{kind}_calls"], "count")
    per_op("spark.jobs", rec.spark_jobs, "count")
    per_op("spark.tasks", tasks, "count")
    per_op("py4j.calls", rec.py4j_calls, "count")
    for layer in ("op", "log", "plan", "dml", "merge", "writer"):
        per_op(f"self.{layer}_ms", selfs.get(layer, 0.0), "ms")
    m["trace.overhead_ms"] = (wall * 1000.0 / ops - untraced_per_op_ms, "ms")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="table and batch sizes; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jodie_spark", "__init__.py")):
        print(f"jodie_spark package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, null_span

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = fresh_dir(os.path.abspath(".perfbench_work"))
    prepare_env(work)
    os.chdir(work)

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()  # before anything imports the table modules

    from jodie_spark.session import get_spark
    from jodie_spark.sources.datasource import register

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    register(spark)
    session_s = time.perf_counter() - t0
    wl = None
    try:
        # a traced run loops for twice the time (see below)
        loop_total = args.seconds * (2 if tracer is not None else 1)
        wl = WORKLOADS[args.workload](spark, args.seed, loop_total, args.size)
        setups = []
        prev = None
        for r in range(SETUP_REPEATS):
            d = fresh_dir(os.path.join(work, f"setup{r}"))
            t0 = time.perf_counter()
            wl.setup(d)
            setups.append(time.perf_counter() - t0)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = d
        setup_s = statistics.median(setups)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        if tracer is None:
            rec, wall = run_loop(wl, args.seconds, null_span)
            metrics = end_to_end(rec, wl, setup_s)
        else:
            # same process, same wrappers: untraced for half the time,
            # traced, untraced for half again; the untraced wall per op
            # is the mean of the two halves, which cancels a steady
            # drift in latency
            rec0, wall0 = run_loop(wl, args.seconds / 2, null_span)
            if hasattr(wl, "on_read"):
                wl.on_read = _scan_replanner(tracer, wl.py4j)
            tracer.enabled = True
            rec, wall = run_loop(wl, args.seconds, tracer.span)
            tracer.enabled = False
            stream = wl.stream_layers() if hasattr(wl, "stream_layers") else {}
            wl.on_read = None
            rec2, wall2 = run_loop(wl, args.seconds / 2, null_span)
            untraced_per_op_ms = statistics.mean(
                [wall0 * 1000.0 / max(rec0.ops, 1), wall2 * 1000.0 / max(rec2.ops, 1)]
            )
            for other in (rec0, rec2):
                rec.attempted += other.attempted
                rec.failed += other.failed
                rec.errors += other.errors
            metrics = per_layer(tracer, rec, wall, stream, untraced_per_op_ms,
                                count_tasks(spark, *rec.job_ids))
        t0 = time.perf_counter()
        correct = wl.final_check() and rec.failed == 0
        final_s = time.perf_counter() - t0
        check_failed = []
        if tracer is not None:
            check_failed = [k for k in EXPECTED_NONZERO[args.workload] if not metrics[k][0] > 0]
            correct = correct and not check_failed
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        os.chdir(ROOT if os.path.isdir(ROOT) else "/")
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"session_start_s={session_s:.3f} setup_runs_s={[round(s, 3) for s in setups]} "
          f"warmup_s={warmup_s:.3f} final_check_s={final_s:.3f}")
    print(f"loop_wall_s={wall:.3f} ops={rec.ops} reads={len(rec.reads_ms)} "
          f"writes={len(rec.writes_ms)} read_tail_pct={tail(rec.reads_ms)[1]:.1f} "
          f"write_tail_pct={tail(rec.writes_ms)[1]:.1f} "
          f"fail_ratio={rec.failed / max(rec.attempted, 1):.4f} "
          f"cpu_steal_pct={rec.steal_pct:.1f}")
    if tracer is None:
        print("wall clock (not gated): " + " ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in wall_clock(rec, wall).items()))
    for kind, xs in (("reads", rec.reads_ms), ("writes", rec.writes_ms),
                     ("maintenance", rec.maint_ms)):
        print(f"{kind}_ms = {[round(x) for x in xs]}")
    for err in rec.errors:
        print(f"failure: {err}")
    if check_failed:
        print(f"trace check: expected non-zero but got zero: {check_failed}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": max(rec.attempted, 1),
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _scan_replanner(tracer, py4j):
    """Read planning runs in a Spark Python worker the driver cannot
    see; the traced run repeats it on the driver after each read."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from jodie_spark.sources.datasource import JodieDeltaBatchReader

    schema = StructType([StructField("id", LongType()), StructField("v", StringType())])

    def replan(path: str, cond: str) -> None:
        with tracer.quiet(), py4j.pause():
            rdr = JodieDeltaBatchReader({"path": path}, schema)
            rdr._condition = cond
            t0 = time.perf_counter()
            parts = rdr.partitions()
            ms = (time.perf_counter() - t0) * 1000.0
        tracer.add("scan.plan_ms", ms)
        tracer.add("scan.files_planned", sum(len(getattr(p, "files", [p])) for p in parts))

    return replan


if __name__ == "__main__":
    sys.exit(main())
