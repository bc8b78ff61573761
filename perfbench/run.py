#!/usr/bin/env python3
"""pfutil_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload north_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # all workloads, tiny inputs

Run from the root of a checkout. One client (this driver thread) issues
queries back to back in a closed loop on ``local[4]``; every query
builds fresh DataFrames over inputs generated from ``--seed`` and its
result is checked against a reference fixed during set-up.

``--trace 0`` measures the end-to-end metrics for ``--seconds``.
``--trace 1`` runs every query twice back to back for ``--seconds``,
once untraced and once traced (spans, job-group stage metrics), switching
which goes first on every pair; then it runs the layer probes and the
kernel panel, and reports the per-layer metrics plus the tracing overhead
(median over the pairs of traced minus untraced query wall).

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
name every metric with its unit, the host disclosure and the error rate.
Spans and per-query detail go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import probe
from layers import (
    LAYER_METRICS, LAYER_UNITS, Tracer, group_jobs, kernel_panel, probe_spark,
    stage_layer_metrics,
)
from workloads import FULL, WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"  # per-run detail and spans
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_query": "s",
    "peak_rss_mb": "MB",
}


def start_spark(work: Path):
    from pyspark.sql import SparkSession

    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the library and these modules by path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("pfutil-perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Spark's default heap, stated: the repo's other benchmarks raise it
        # because they cache their inputs in memory; this one caches
        # nothing. The heap is committed and touched at JVM start (below),
        # so peak_rss_mb moves with off-heap (Arrow), Python and driver
        # memory, not with when G1 grows the heap; heap pressure shows as
        # spark.jvm_gc_s and in query time
        .config("spark.driver.memory", "1g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -Xms1g -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    started = probe.tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    probe.wait_gone(started, timeout_s=30)


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Loop:
    """Closed-loop client: next query only after the previous completes."""

    def __init__(self, wl, tracer, spark, label: str, rss=None):
        self.wl, self.tracer, self.spark, self.label = wl, tracer, spark, label
        self.rss = rss  # RssSampler: record CPU and peak RSS per query
        self.walls: list[float] = []
        self.rows: list[int] = []
        self.names: list[str] = []
        self.loadavg: list[float] = []
        self.cpu_s: list[float] = []
        self.peak_rss_mb: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.jobs = []  # traced: per query, its Spark jobs and stages

    def one(self, q) -> None:
        tr = self.tracer
        tid = f"{self.label}.{self.attempted}"
        self.attempted += 1
        self.loadavg.append(os.getloadavg()[0])
        if tr.enabled:
            tr.trace_id = tid
            self.spark.sparkContext.setJobGroup(tid, q.name)
        if self.rss is not None:
            self.rss.mark()
            cpu0 = probe.tree_cpu_s()
        ok = False
        t0 = time.perf_counter()
        try:
            with tr.span("query"):
                result = q.run(tr)
            wall = time.perf_counter() - t0
            ok = self.wl.check(q.name, result)
        except Exception:
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        finally:
            if tr.enabled:
                self.spark.sparkContext._jsc.clearJobGroup()
        if self.rss is not None:
            cpu = probe.tree_cpu_s() - cpu0
            peak, sampler_cpu_s = self.rss.mark()
            self.cpu_s.append(cpu - sampler_cpu_s)
            self.peak_rss_mb.append(peak)
        if not ok:
            self.failed += 1
            print(f"# FAILED {q.name} ({tid})", file=sys.stderr)
        self.walls.append(wall)
        self.rows.append(q.rows_in)
        self.names.append(q.name)
        if tr.enabled:
            jobs = group_jobs(self.spark, tid)
            for j in jobs:
                j.in_reader = tr.add_wall("spark.job", j.start, j.end) == "spark.reader"
            self.jobs.append(jobs)


def run_for(loop: Loop, seconds: float) -> None:
    """Issue queries for ``seconds`` (at least one)."""
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or not loop.walls:
        loop.one(loop.wl.next_query())


def run_pairs(plain: Loop, traced: Loop, seconds: float) -> list[float]:
    """Issue each query twice back to back, untraced and traced, switching
    which goes first on every pair, for ``seconds`` (at least one pair).
    Returns traced minus untraced wall per pair."""
    deadline = time.perf_counter() + seconds
    diffs: list[float] = []
    while time.perf_counter() < deadline or not diffs:
        q = plain.wl.next_query()
        for lp in (plain, traced) if len(diffs) % 2 == 0 else (traced, plain):
            lp.one(q)
        diffs.append(traced.walls[-1] - plain.walls[-1])
    return diffs


def measure(spark, session_s: float, workload: str, seed: int, seconds: float,
            trace: bool, sizes, work: Path):
    """Set up ``workload`` on a running session and measure it.
    Returns (result dict, workload object)."""

    host = probe.host_info(spark, ROOT, seed)
    wl = WORKLOADS[workload](spark, str(work), seed, sizes)
    t = time.perf_counter()
    wl.prepare()
    prep_s = time.perf_counter() - t
    t = time.perf_counter()
    warm = wl.warmup()
    warm_failed = sum(not wl.check(name, res) for name, res in warm)
    warm_loop = Loop(wl, Tracer(False), spark, "warm")
    run_for(warm_loop, sizes.warm_s)
    warm_s = time.perf_counter() - t

    with probe.RssSampler() as rss:
        plain = Loop(wl, Tracer(False), spark, "plain", rss)
        loops = [plain]
        if trace:
            tracer = Tracer(True)
            loops.append(Loop(wl, tracer, spark, "traced"))
            overhead = run_pairs(plain, loops[1], seconds)
        else:
            run_for(plain, seconds)
        rss_end = probe.rss_breakdown()
    # throughput of one pass over the query shapes, each at its median
    # wall, so a run that ends mid-cycle does not skew the shape mix
    by_shape: dict[str, list[float]] = {}
    rows_of: dict[str, int] = {}
    for name, wall, rows in zip(plain.names, plain.walls, plain.rows):
        by_shape.setdefault(name, []).append(wall)
        rows_of[name] = rows
    e2e = {
        "setup_s": session_s + prep_s + warm_s,
        "query_p50_s": statistics.median(plain.walls),
        "rows_per_s": sum(rows_of.values()) / sum(statistics.median(w) for w in by_shape.values()),
        "cpu_s_per_query": statistics.median(plain.cpu_s),
        "peak_rss_mb": statistics.median(plain.peak_rss_mb),
    }
    detail = {
        "input": wl.describe(),
        "setup": {"session_s": session_s, "prepare_s": prep_s, "warmup_s": warm_s},
        "queries": len(plain.walls),
        "rss_end": rss_end,
        "query_p90_s": percentile(plain.walls, 0.9) if len(plain.walls) >= 100 else None,
    }
    layer: dict[str, float] = {}
    if trace:
        traced = loops[1]
        layer.update(stage_layer_metrics(traced.jobs, CORES))
        n = len(traced.walls)
        layer["operators.plan_s"] = sum(tracer.per_trace("operators.call", True)) / n
        layer["spark.reader_s"] = sum(tracer.per_trace("spark.reader")) / n
        layer["spark.action_driver_s"] = sum(tracer.per_trace("spark.action", True)) / n
        layer["spark.job_wall_s"] = sum(tracer.per_trace("spark.job")) / n
        layer["trace.overhead_s"] = statistics.median(overhead)
        detail["trace_overhead_per_pair_s"] = overhead
        layer.update(probe_spark(spark, wl.projected, sizes.probe_reps))
        layer.update(kernel_panel(wl.sample(), sizes.kernel_min_s))
        OUT.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(OUT / f"spans-{workload}-{seed}.json"))
    attempted = len(warm) + sum(lp.attempted for lp in [warm_loop] + loops)
    failed = warm_failed + sum(lp.failed for lp in [warm_loop] + loops)
    detail["error_rate"] = failed / attempted
    detail["loadavg_per_query"] = [round(x, 2) for lp in loops for x in lp.loadavg]
    detail["walls"] = {lp.label: lp.walls for lp in loops}
    detail["cpu_s"] = plain.cpu_s
    detail["peak_rss_mb"] = plain.peak_rss_mb
    detail["names"] = {lp.label: lp.names for lp in loops}
    res = {
        "workload": workload, "host": host, "trace": trace,
        "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layer, "detail": detail,
    }
    return res, wl


def run(workload: str, seed: int, seconds: float, trace: bool, sizes) -> dict:
    """One measured run in its own Spark session; cleans up after itself."""
    work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        return measure(spark, session_s, workload, seed, seconds, trace, sizes, work)[0]
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there


def report(res: dict, trace: bool) -> dict:
    """Print every metric by name and unit; return the result line."""
    d = res["detail"]
    print(f"# host {json.dumps(res['host'], sort_keys=True)}")
    la = d["loadavg_per_query"]
    print(f"# {res['workload']}: {d['queries']} untraced queries, loadavg per query "
          f"min {min(la):.2f} median {statistics.median(la):.2f} max {max(la):.2f}")
    print(f"# rss at end of the measured loop {json.dumps(d['rss_end'])}")
    for name, unit in END_TO_END.items():
        print(f"{res['workload']} {name} = {res['end_to_end'][name]!r} {unit}")
    p90 = d["query_p90_s"]
    print(f"{res['workload']} query_p90_s = "
          + (f"{p90!r} s" if p90 is not None else f"n/a s (needs >= 100 queries, had {d['queries']})"))
    print(f"{res['workload']} error_rate = {d['error_rate']!r} fraction "
          f"({res['failed']} of {res['attempted']} queries)")
    units = dict(END_TO_END)
    metrics = res["end_to_end"]
    if trace:
        units = LAYER_UNITS
        metrics = res["per_layer"]
        for name, (unit, wl, target) in LAYER_METRICS.items():
            print(f"{res['workload']} {name} = {metrics[name]!r} {unit}"
                  + (f"  (moves {wl} {target})" if wl else ""))
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs and assert the output format")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import pfutil_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.smoke:
        import smoke

        return smoke.main()
    if args.workload is None:
        ap.error("--workload is required")

    res = run(args.workload, args.seed, args.seconds, bool(args.trace), FULL)
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / f"run-{args.workload}-{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(res, f)
    line = report(res, bool(args.trace))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
