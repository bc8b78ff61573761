"""Per-layer measurement for the traced run.

Everything here observes the library from outside: spans around the
benchmark's own calls into each layer, Spark's stage metrics read from
the application status store (job-group labelled per query), and
single-core timings of the ``kernel`` functions on a sample of the
workload's own input.

Layers: ``kernel`` (numpy hash / fold / encode / decode / estimate),
``operators`` (plan building and the Arrow merge body), ``spark``
(stages, exchange, task floor). ``sources`` only generates input and
the benchmark uses its own seeded generator instead (``gen.py``);
``functions`` and ``streaming`` sit on no sketch-query path and are not
measured.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import nullcontext
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa

from gen import flat_buffers

# per-layer metric -> (unit, workload, end-to-end metric it should move)
LAYER_METRICS = {
    "kernel.hash_patlen_rows_per_s": ("rows/s", "north_build", "rows_per_s"),
    "kernel.encode_groups_rows_per_s": ("rows/s", "north_build", "rows_per_s"),
    "kernel.decode_sketches_per_s": ("sketches/s", "sketch_rollup", "rows_per_s"),
    "kernel.estimate_sketches_per_s": ("sketches/s", "sketch_rollup", "rows_per_s"),
    "kernel.kll_fold_rows_per_s": ("rows/s", "sketch_queries", "query_p50_s"),
    "kernel.cms_fold_rows_per_s": ("rows/s", "sketch_queries", "query_p50_s"),
    "operators.plan_s": ("s", "sketch_queries", "query_p50_s"),
    "operators.pyscan_share": ("fraction", "sketch_queries", "query_p50_s"),
    "operators.merge_batch_sketches_per_s": ("sketches/s", "sketch_rollup", "rows_per_s"),
    "spark.reader_s": ("s", "sketch_queries", "query_p50_s"),
    "spark.action_driver_s": ("s", "sketch_queries", "query_p50_s"),
    "spark.job_wall_s": ("s", "north_build", "query_p50_s"),
    "spark.partial_stage_run_s": ("s", "north_build", "rows_per_s"),
    "spark.boundary_consume_only_s": ("s", "north_build", "rows_per_s"),
    "spark.jvm_read_s": ("s", "north_build", "rows_per_s"),
    "spark.jvm_gc_s": ("s", "north_build", "cpu_s_per_query"),
    "spark.merge_stage_run_s": ("s", "sketch_rollup", "rows_per_s"),
    "spark.exchange_bytes": ("bytes", "sketch_rollup", "rows_per_s"),
    "spark.python_task_waves": ("count", "sketch_queries", "query_p50_s"),
    "spark.tasks_per_query": ("count", "sketch_queries", "query_p50_s"),
    "spark.jobs_per_query": ("count", "sketch_queries", "query_p50_s"),
    "spark.empty_python_task_s": ("s", "sketch_queries", "query_p50_s"),
    "trace.overhead_s": ("s", None, None),  # the cost of measuring
}
LAYER_UNITS = {name: unit for name, (unit, _, _) in LAYER_METRICS.items()}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None for a query root
    trace: str  # per-query trace id (also the query's Spark job group)


class _Open:
    def __init__(self, tracer: "Tracer", name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> None:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t._stack.append(len(t.spans))
        t.spans.append(Span(self.name, time.perf_counter(), math.nan, parent, t.trace_id))

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[t._stack.pop()].end = time.perf_counter()


class Tracer:
    """In-memory span recorder. A disabled tracer hands out a shared
    no-op context, so untraced runs pay one method call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace_id = ""
        self._stack: list[int] = []
        self._null = nullcontext()
        # perf_counter = wall clock - offset (to place Spark's job times)
        self._offset = time.time() - time.perf_counter()

    def span(self, name: str):
        return _Open(self, name) if self.enabled else self._null

    def add_wall(self, name: str, start_epoch_s: float, end_epoch_s: float) -> str | None:
        """Add a span timed elsewhere (a Spark job) under the innermost
        span of the current trace that contains its midpoint; returns
        that parent's name."""
        start, end = start_epoch_s - self._offset, end_epoch_s - self._offset
        mid = (start + end) / 2
        parent = None
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s.trace != self.trace_id:
                break
            if s.start <= mid <= s.end and (
                parent is None or s.start >= self.spans[parent].start
            ):
                parent = i
        self.spans.append(Span(name, start, end, parent, self.trace_id))
        return None if parent is None else self.spans[parent].name

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += 0.0 if cur_e is None else cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s.end - s.start) - covered)
        return out

    def per_trace(self, name: str, self_time: bool = False) -> list[float]:
        """Summed (self) duration of spans called ``name`` per trace id."""
        vals = self.self_times() if self_time else [s.end - s.start for s in self.spans]
        acc: dict[str, float] = {}
        for s, v in zip(self.spans, vals):
            if s.parent is None:
                acc.setdefault(s.trace, 0.0)
            if s.name == name:
                acc[s.trace] = acc.get(s.trace, 0.0) + v
        return list(acc.values())

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=v) for s, v in zip(self.spans, selfs)], f
            )


# ---------------------------------------------------------------------------
# Spark stage metrics (status store, per job group)
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    tasks: int
    run_s: float  # summed executorRunTime of the stage's tasks
    input_bytes: int  # read by the JVM from files
    shuffle_read: int
    shuffle_write: int
    gc_s: float  # summed JVM GC time of the stage's tasks


@dataclass
class JobStats:
    start: float  # epoch s
    end: float
    stages: list[StageStats]
    # started inside the DataFrame reader (JVM-only listing / schema jobs)
    in_reader: bool = False


def group_jobs(spark, group: str) -> list[JobStats]:
    """Finished jobs that ran under job group ``group``, with their
    completed stages (a skipped stage reused an earlier shuffle)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    seen: set[int] = set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        if not (jd.submissionTime().isDefined() and jd.completionTime().isDefined()):
            continue
        stages = []
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "COMPLETE":
                stages.append(StageStats(
                    sd.numTasks(), sd.executorRunTime() / 1e3, sd.inputBytes(),
                    sd.shuffleReadBytes(), sd.shuffleWriteBytes(), sd.jvmGcTime() / 1e3,
                ))
        out.append(JobStats(
            jd.submissionTime().get().getTime() / 1e3,
            jd.completionTime().get().getTime() / 1e3,
            stages,
        ))
    return out


def stage_layer_metrics(per_query: list[list[JobStats]], cores: int) -> dict[str, float]:
    """Means per query. A stage that reads a shuffle is a merge stage;
    every other stage is a leaf (scan + partial) stage. Task waves count
    the stages of the query's own jobs, leaving out the reader's JVM-only
    listing jobs; on sketch_queries every such stage runs a Python
    operator. A query whose own jobs read no file bytes in the JVM took
    the pyscan path (Python workers read the parquet)."""
    def mean(f):
        return statistics.fmean([f(q) for q in per_query]) if per_query else math.nan

    def stages(q, own_only=False):
        return [s for j in q if not (own_only and j.in_reader) for s in j.stages]

    return {
        "spark.partial_stage_run_s": mean(
            lambda q: sum(s.run_s for s in stages(q) if s.shuffle_read == 0)
        ),
        "spark.merge_stage_run_s": mean(
            lambda q: sum(s.run_s for s in stages(q) if s.shuffle_read > 0)
        ),
        "spark.exchange_bytes": mean(lambda q: sum(s.shuffle_read for s in stages(q))),
        "spark.python_task_waves": mean(
            lambda q: sum(-(-s.tasks // cores) for s in stages(q, own_only=True))
        ),
        "spark.tasks_per_query": mean(lambda q: sum(s.tasks for s in stages(q))),
        "spark.jobs_per_query": mean(len),
        "spark.jvm_gc_s": mean(lambda q: sum(s.gc_s for s in stages(q))),
        "operators.pyscan_share": mean(
            lambda q: float(not any(s.input_bytes for s in stages(q, own_only=True)))
        ),
    }


def _noop_run_s(spark, df, group: str) -> float:
    """Summed task run time of writing ``df`` to the noop sink."""
    spark.sparkContext.setJobGroup(group, group)
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.clearJobGroup()
    return sum(s.run_s for j in group_jobs(spark, group) for s in j.stages)


def _consume(batches):
    """mapInArrow body that only pulls its input across the boundary."""
    for _ in batches:
        pass
    return iter(())


def probe_spark(spark, projected, reps: int) -> dict[str, float]:
    """Stage-metric probes outside the query loop: the JVM read of the
    workload's projected input, the same read pulled across the Arrow
    boundary by a consume-only ``mapInArrow``, and empty Python tasks."""
    cores = spark.sparkContext.defaultParallelism
    jvm, boundary, empty = [], [], []
    for r in range(reps):
        df = projected()
        jvm.append(_noop_run_s(spark, df, f"probe.jvm_read.{r}"))
        df = projected()
        boundary.append(_noop_run_s(
            spark, df.mapInArrow(_consume, df.schema), f"probe.boundary.{r}"
        ))
        empty_df = spark.range(0, cores, 1, cores).mapInArrow(_consume, "id long")
        empty.append(_noop_run_s(spark, empty_df, f"probe.empty.{r}") / cores)
    return {
        "spark.jvm_read_s": statistics.median(jvm),
        "spark.boundary_consume_only_s": statistics.median(boundary),
        "spark.empty_python_task_s": statistics.median(empty),
    }


# ---------------------------------------------------------------------------
# kernel panel (single core, driver)
# ---------------------------------------------------------------------------


@dataclass
class LayerSample:
    """A slice of the workload's own input for the kernel panel."""

    strings: pa.Array  # elements as the partial stage hashes them
    groups: np.ndarray  # group code per element
    sketches: list[bytes]  # HLL sketches as the merge stage sees them
    sketch_groups: np.ndarray  # merge key per sketch
    doubles: np.ndarray | None = None  # KLL input; hash-derived when None


def _rate(fn, n: int, min_s: float) -> float:
    """Items per second of ``fn`` over ``n`` items: median of repeated
    calls after one warm call."""
    fn()
    times: list[float] = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return n / statistics.median(times)


def kernel_panel(sample: LayerSample, min_s: float) -> dict[str, float]:
    """Single-core rates of the kernels (and the Arrow merge body) on the
    sample, each call repeated for at least ``min_s`` seconds."""
    from pfutil_spark.kernel import cms, hll, kll
    from pfutil_spark.kernel.murmur import murmur64a_flat
    from pfutil_spark.operators.hll_agg import merge_record_batch

    data, offs = flat_buffers(sample.strings)
    n = len(offs) - 1
    g = sample.groups.astype(np.int64)
    n_groups = int(g.max()) + 1
    hashes = murmur64a_flat(data, offs)
    idx, plen = hll.patlen_v4(hashes)
    doubles = (
        sample.doubles if sample.doubles is not None
        else (hashes >> np.uint64(11)).astype(np.float64) * 2.0 ** -53
    )
    sk = sample.sketches
    batch = pa.record_batch(
        [pa.array(sample.sketch_groups.astype(np.int64)), pa.array(sk, pa.binary())],
        names=["g", "sketch"],
    )
    return {
        "kernel.hash_patlen_rows_per_s": _rate(
            lambda: hll.patlen_v4(murmur64a_flat(data, offs)), n, min_s
        ),
        "kernel.encode_groups_rows_per_s": _rate(
            lambda: hll.encode_groups(g, idx, plen, n_groups), n, min_s
        ),
        "kernel.decode_sketches_per_s": _rate(lambda: hll.decode_many(sk), len(sk), min_s),
        "kernel.estimate_sketches_per_s": _rate(
            lambda: hll.estimate_bytes_batch(sk, 4), len(sk), min_s
        ),
        "kernel.kll_fold_rows_per_s": _rate(
            lambda: kll.fold_groups_level0(doubles, g, n_groups), n, min_s
        ),
        "kernel.cms_fold_rows_per_s": _rate(
            lambda: cms.fold_groups(hashes.view(np.int64), g, n_groups), n, min_s
        ),
        "operators.merge_batch_sketches_per_s": _rate(
            lambda: merge_record_batch(batch, ["g"], "sketch"), len(sk), min_s
        ),
    }


# partial_sketches splits its sample into this many partitions
MERGE_PARTS = 8


def partial_sketches(strings: pa.Array, groups: np.ndarray):
    """HLL sketches as a merge stage receives them: the sample split into
    ``MERGE_PARTS`` contiguous partitions, one canonical sketch per
    (partition, group). Returns (sketches, group per sketch)."""
    from pfutil_spark.kernel import hll

    data, offs = flat_buffers(strings)
    idx, plen = hll.hash_and_patlen_flat(data, offs, 4)
    n = len(groups)
    part = np.arange(n, dtype=np.int64) * MERGE_PARTS // max(1, n)
    key = part * (int(groups.max()) + 1) + groups
    uniq, inv = np.unique(key, return_inverse=True)
    sdata, soffs = hll.encode_groups(inv, idx, plen, len(uniq))
    sdata = bytes(np.asarray(sdata, dtype=np.uint8))
    sketches = [sdata[soffs[i]:soffs[i + 1]] for i in range(len(uniq))]
    return sketches, uniq % (int(groups.max()) + 1)
