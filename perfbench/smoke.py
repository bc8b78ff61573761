"""The benchmark's own test: every workload on tiny inputs, one session.

    python3 perfbench/run.py --smoke

For each workload it runs a short traced measurement (which includes an
untraced half) and asserts that every end-to-end and per-layer metric
prints by name with its unit and that the error rate is 0. It then
tampers with one expected value and asserts that the next query is
counted as failed. Exits non-zero on any failed assertion.
"""

from __future__ import annotations

import io
import shutil
import sys
import time
from contextlib import redirect_stdout

import run as bench
from layers import LAYER_UNITS, Tracer
from workloads import SMOKE, WORKLOADS


def tamper(v):
    """The same expected value with one number or string changed."""
    if isinstance(v, dict):
        k = next(iter(v))
        return {**v, k: tamper(v[k])}
    if isinstance(v, tuple):
        return (tamper(v[0]),) + v[1:]
    if isinstance(v, bytes):
        return v + b"x"
    if isinstance(v, str):
        return v + "x"
    return v + 1


def check_workload(spark, name: str, work) -> list[str]:
    problems = []
    res, wl = bench.measure(spark, 0.0, name, 0, 2.0, True, SMOKE, work / name)
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.report(res, False)
        bench.report(res, True)
    text = buf.getvalue()
    units = {**bench.END_TO_END, **LAYER_UNITS, "query_p90_s": "s", "error_rate": "fraction"}
    for metric, unit in units.items():
        if f"{name} {metric} = " not in text or not any(
            line.startswith(f"{name} {metric} = ") and f" {unit}" in line
            for line in text.splitlines()
        ):
            problems.append(f"{name}: {metric} not printed with unit {unit}")
    if res["failed"] or res["detail"]["error_rate"] != 0:
        problems.append(f"{name}: error_rate {res['detail']['error_rate']} != 0")

    # negative test: a tampered expected value must count as failed
    q = wl.next_query()
    wl.expected[q.name] = tamper(wl.expected[q.name])
    loop = bench.Loop(wl, Tracer(False), spark, "tampered")
    loop.one(q)
    if loop.failed != 1:
        problems.append(f"{name}: a tampered expected value was not counted as failed")
    return problems


def main() -> int:
    t0 = time.perf_counter()
    work = bench.ROOT / ".perfbench_work" / "smoke"
    spark = bench.start_spark(work)
    problems: list[str] = []
    try:
        for name in WORKLOADS:
            problems += check_workload(spark, name, work)
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    for p in problems:
        print(f"SMOKE FAIL {p}", file=sys.stderr)
    print(f"smoke: {len(WORKLOADS)} workloads, {len(problems)} problems, "
          f"{time.perf_counter() - t0:.1f}s")
    return 1 if problems else 0
