"""The benchmark's three workloads.

Each workload generates its own seeded input (``gen.py``), builds a
fresh DataFrame for every query (re-running an action on one DataFrame
reuses its shuffle and corrupts timings), and checks every result
against a reference fixed during set-up.

* ``north_build`` — the north-star report over a 2M-row source table.
  Many rows, 17 groups: the JVM scan with sha2, the Arrow boundary and
  the hash / fold kernels carry the load; the merge stage is tiny.
* ``sketch_queries`` — short sketch queries round-robin over
  lineitem / orders / events at sf0.1 row counts. Per-query fixed cost
  (planning, pyscan footer reads, Python task waves) dominates; covers
  both sketch engines (HLL and ``KernelSpec``) and both read paths.
* ``sketch_rollup`` — re-aggregation of stored per-(lang, key) sketches.
  Nothing is hashed: sketch decode, max-merge, re-encode, estimate and
  exchange bytes do the work, so it sees the merge layer from the read
  side.

Inputs are generated in a separate process (``in_child``) that exits
before the first query, so the driver's memory holds none of them.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import subprocess
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from layers import LayerSample, Tracer, partial_sketches

QUANTILES = (0.1, 0.5, 0.9, 0.99)
# HLL standard error at 16384 registers is 1.04/sqrt(16384) = 0.81%. The
# north report has 72 estimates; their largest error exceeds 3 standard
# errors on about one seed in three, so each estimate may sit within 5.
HLL_SE = 1.04 / math.sqrt(16384)
HLL_TOL_SE = 5


@dataclass(frozen=True)
class Sizes:
    north_rows: int
    tpch_scale: float
    rollup_keys: int
    sample_rows: int  # rows of input handed to the kernel panel
    kernel_min_s: float  # time each kernel is repeated for, at least
    probe_reps: int  # repetitions of each Spark layer probe
    # after every query shape ran once, untimed queries continue this long
    # (the JVM keeps speeding the first queries up)
    warm_s: float


FULL = Sizes(2_000_000, 0.1, 16_000, 200_000, kernel_min_s=0.3, probe_reps=2, warm_s=2.0)
SMOKE = Sizes(50_000, 0.001, 400, 20_000, kernel_min_s=0.05, probe_reps=1, warm_s=0.5)


@dataclass
class Query:
    name: str
    rows_in: int  # input rows (stored sketches for the rollup) it reads
    run: Callable[[Tracer], object]  # builds fresh DataFrames, returns results


def canon(result) -> object:
    """Order-insensitive, hashable form of collected rows."""
    if isinstance(result, tuple) and result and isinstance(result[0], list):
        return tuple(canon(r) for r in result)

    def cell(v):
        if isinstance(v, (bytearray, memoryview)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v

    return tuple(sorted((tuple(cell(v) for v in row) for row in result), key=repr))


def _codes(arr) -> tuple[np.ndarray, list]:
    enc = pc.dictionary_encode(arr).combine_chunks()
    return enc.indices.to_numpy().astype(np.int64), enc.dictionary.to_pylist()


def hll_estimates(elems, groups=None, version: int = 4) -> dict[tuple, int]:
    """Single-process PFCOUNT per group with the library kernel:
    group key tuple -> estimate."""
    from pfutil_spark.kernel import hll

    strings = pc.cast(elems, pa.string()).combine_chunks()
    idx, plen = hll.hash_and_patlen_flat(*gen.flat_buffers(strings), version)
    if groups is None:
        codes, keys = np.zeros(len(strings), dtype=np.int64), [()]
    else:
        codes, names = _codes(groups)
        keys = [(k,) for k in names]
    regs = np.zeros((len(keys), hll.HLL_REGISTERS), dtype=np.uint8)
    hll.update_registers_grouped(regs, codes, idx, plen)
    return {k: hll.estimate(regs[i], version) for i, k in enumerate(keys)}


# reads the module search path, then (fn, args), from stdin; writes fn(*args)
_CHILD = (
    "import pickle, sys; sys.path[:0] = pickle.load(sys.stdin.buffer); "
    "fn, args = pickle.load(sys.stdin.buffer); pickle.dump(fn(*args), sys.stdout.buffer)"
)


def in_child(fn, *args):
    """``fn(*args)`` in a fresh Python process, which has exited when this
    returns; arguments and result travel pickled over its stdin / stdout."""
    payload = pickle.dumps(sys.path) + pickle.dumps((fn, args))
    done = subprocess.run(
        [sys.executable, "-c", _CHILD], input=payload, stdout=subprocess.PIPE, check=True
    )
    return pickle.loads(done.stdout)


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, sizes: Sizes):
        self.spark, self.work_dir, self.seed, self.sizes = spark, work_dir, seed, sizes
        self.expected: dict[str, object] = {}
        self._i = 0

    def input_dir(self) -> str:
        return os.path.join(self.work_dir, "input")

    def prepare(self) -> None:
        """Generate the input and its references (in a child process)."""
        raise NotImplementedError

    def shapes(self) -> list[Query]:
        raise NotImplementedError

    def warmup(self) -> list[tuple[str, object]]:
        """Run every query shape once, untimed; returns (name, result)."""
        return [(q.name, q.run(Tracer(False))) for q in self.shapes()]

    def next_query(self) -> Query:
        shapes = self.shapes()
        q = shapes[self._i % len(shapes)]
        self._i += 1
        return q

    def check(self, name: str, result) -> bool:
        return canon(result) == self.expected[name]

    def describe(self) -> dict:
        """Facts about the generated input, for the run's disclosure."""
        raise NotImplementedError

    def sample(self) -> LayerSample:
        raise NotImplementedError

    def projected(self):
        """The partial stage's input, as a fresh DataFrame."""
        raise NotImplementedError


class NorthBuild(Workload):
    name = "north_build"

    def prepare(self) -> None:
        self.table = in_child(gen.write_north, self.input_dir(), self.seed, self.sizes.north_rows)
        self.expected = {"north_report": gen.north_reference(self.table)}

    def _source(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.table.path).withColumn(
            "content_sha", F.unhex(F.sha2(F.col("content"), 256))
        )

    def _run(self, tr: Tracer):
        from pfutil_spark.operators.multi import sourcecode_distinct_report

        with tr.span("spark.reader"):
            df = self._source()
        with tr.span("operators.call"):
            report = sourcecode_distinct_report(df)
        with tr.span("spark.action"):
            return report.collect()

    def shapes(self) -> list[Query]:
        return [Query("north_report", self.table.rows, self._run)]

    def check(self, name: str, result) -> bool:
        got = {(r["lang"], r["metric"]): r["estimate"] for r in result}
        if got != self.expected[name]:
            return False
        for (lang, metric), est in got.items():
            exact = self.table.exact[metric][17 if lang is None else gen.LANG_NAMES.index(lang)]
            if abs(est - exact) > HLL_TOL_SE * HLL_SE * exact:
                return False
        return True

    def describe(self) -> dict:
        return {"rows": self.table.rows, "files": len(os.listdir(self.table.path))}

    def sample(self) -> LayerSample:
        t = pq.ParquetFile(os.path.join(self.table.path, "part-000.parquet")).read()
        t = t.slice(0, self.sizes.sample_rows)
        content = t.column("content").combine_chunks().cast(pa.binary())
        digests = pa.array(
            [hashlib.sha256(c).digest() for c in content.to_pylist()], pa.binary()
        )
        cols = [t.column(m).combine_chunks().cast(pa.binary()) for m in gen.NORTH_METRICS[:3]]
        strings = pa.concat_arrays(cols + [digests])
        lang, _ = _codes(t.column("lang"))
        groups = np.concatenate([lang + 17 * i for i in range(4)])
        sketches, sk_groups = partial_sketches(strings, groups)
        return LayerSample(strings, groups, sketches, sk_groups)

    def projected(self):
        df = self._source()
        return df.select("lang", "repo", "path", "commit", "content_sha")


def tpch_input(out_dir: str, seed: int, scale: float):
    """Write the sketch_queries tables; returns their paths, row counts
    and the kernel's single-process results of the HLL query shapes."""
    paths = gen.write_tpch(out_dir, seed, scale)
    li = pq.read_table(paths["lineitem"], columns=["l_orderkey", "l_partkey", "l_returnflag"])
    ev = pq.read_table(paths["events"], columns=["user_id", "event_type"])
    od = pq.read_table(paths["orders"], columns=["o_custkey", "o_clerk", "o_orderstatus"])
    rows = {"lineitem": li.num_rows, "events": ev.num_rows, "orders": od.num_rows}

    def rows_of(est: dict[tuple, int]) -> object:
        return canon([(*k, v) for k, v in est.items()])

    expected = {
        "hll_lineitem_global": rows_of(hll_estimates(li.column("l_orderkey"))),
        "hll_lineitem_by_flag_v5": rows_of(
            hll_estimates(li.column("l_partkey"), li.column("l_returnflag"), 5)
        ),
        "hll_events_users_by_type": rows_of(
            hll_estimates(ev.column("user_id"), ev.column("event_type"))
        ),
        "hll_orders_multi": canon(
            [(*k, m, v)
             for m in ("o_custkey", "o_clerk")
             for k, v in hll_estimates(od.column(m), od.column("o_orderstatus")).items()]
        ),
    }
    return paths, rows, expected


class SketchQueries(Workload):
    name = "sketch_queries"

    def prepare(self) -> None:
        self.paths, self.rows, self.expected = in_child(
            tpch_input, self.input_dir(), self.seed, self.sizes.tpch_scale
        )
        # the query order: every cycle visits each shape once, seeded
        rng = np.random.default_rng([self.seed, 4])
        n = len(self.shapes())
        self.order = np.concatenate([rng.permutation(n) for _ in range(64)])

    def _read(self, tr: Tracer, table: str):
        with tr.span("spark.reader"):
            return self.spark.read.parquet(self.paths[table])

    def _hll(self, table, elem, src, by, version=4):
        def run(tr: Tracer):
            from pyspark.sql import functions as F

            from pfutil_spark.operators import pf_count_distinct

            df = self._read(tr, table).withColumn(elem, F.col(src).cast("string"))
            with tr.span("operators.call"):
                out = pf_count_distinct(df, elem, by=by, version=version)
            with tr.span("spark.action"):
                return out.collect()
        return run

    def _multi(self, tr: Tracer):
        from pfutil_spark.operators import pf_count_distinct_multi

        df = self._read(tr, "orders")
        with tr.span("operators.call"):
            out = pf_count_distinct_multi(df, ["o_custkey", "o_clerk"], by=["o_orderstatus"])
        with tr.span("spark.action"):
            return out.collect()

    def _kll(self, tr: Tracer):
        from pfutil_spark.operators.sketch_agg import kll_quantiles_col, kll_sketch

        df = self._read(tr, "lineitem")
        with tr.span("operators.call"):
            out = kll_sketch(df, "l_extendedprice").select(
                kll_quantiles_col(QUANTILES).alias("q")
            )
        with tr.span("spark.action"):
            return out.collect()

    def _cms(self, tr: Tracer):
        from pfutil_spark.operators.sketch_agg import cms_sketch

        df = self._read(tr, "events")
        with tr.span("operators.call"):
            out = cms_sketch(df, "user_id")
        with tr.span("spark.action"):
            return out.collect()

    def shapes(self) -> list[Query]:
        li, ev, od = self.rows["lineitem"], self.rows["events"], self.rows["orders"]
        return [
            Query("hll_lineitem_global", li, self._hll("lineitem", "ok", "l_orderkey", ())),
            Query("hll_lineitem_by_flag_v5", li,
                  self._hll("lineitem", "pk", "l_partkey", ("l_returnflag",), 5)),
            Query("hll_events_users_by_type", ev,
                  self._hll("events", "uid", "user_id", ("event_type",))),
            Query("hll_orders_multi", od, self._multi),
            Query("kll_lineitem_price", li, self._kll),
            Query("cms_events_users", ev, self._cms),
        ]

    def warmup(self) -> list[tuple[str, object]]:
        results = super().warmup()
        for name, result in results:
            # KLL and CMS have no single-process twin here (CMS hashes with
            # Spark's xxhash64): their first result is the reference
            self.expected.setdefault(name, canon(result))
        return results

    def next_query(self) -> Query:
        shapes = self.shapes()
        q = shapes[int(self.order[self._i % len(self.order)])]
        self._i += 1
        return q

    def describe(self) -> dict:
        return {"rows": self.rows, "shapes": [q.name for q in self.shapes()]}

    def sample(self) -> LayerSample:
        t = pq.read_table(
            self.paths["lineitem"], columns=["l_orderkey", "l_returnflag", "l_extendedprice"]
        ).slice(0, self.sizes.sample_rows)
        strings = pc.cast(t.column("l_orderkey"), pa.string()).combine_chunks()
        groups, _ = _codes(t.column("l_returnflag"))
        sketches, sk_groups = partial_sketches(strings, groups)
        return LayerSample(
            strings, groups, sketches, sk_groups,
            t.column("l_extendedprice").to_numpy(),
        )

    def projected(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.paths["lineitem"]).select(
            "l_returnflag", F.col("l_partkey").cast("string").alias("pk")
        )


class SketchRollup(Workload):
    name = "sketch_rollup"

    def prepare(self) -> None:
        self.inp = in_child(gen.write_rollup, self.input_dir(), self.seed, self.sizes.rollup_keys)

    def _run(self, tr: Tracer):
        from pfutil_spark.operators import pf_count_col, pf_merge
        from pfutil_spark.operators.sketch_agg import kll_quantiles_col, kll_spec, sketch_merge

        with tr.span("spark.reader"):
            hll_df = self.spark.read.parquet(self.inp.hll_path).select("lang", "sketch")
            kll_df = self.spark.read.parquet(self.inp.kll_path).select("lang", "sketch")
        with tr.span("operators.call"):
            merged = pf_merge(hll_df, by=["lang"]).select(
                "lang", "sketch", pf_count_col("sketch", 4).alias("estimate")
            )
        with tr.span("spark.action"):
            hll_rows = merged.collect()
        with tr.span("operators.call"):
            quant = sketch_merge(kll_df, kll_spec(), by=["lang"]).select(
                "lang", kll_quantiles_col(QUANTILES).alias("q")
            )
        with tr.span("spark.action"):
            return hll_rows, quant.collect()

    def shapes(self) -> list[Query]:
        return [Query("rollup_by_lang", 2 * self.inp.keys, self._run)]

    def warmup(self) -> list[tuple[str, object]]:
        from pfutil_spark.operators import pf_count_col, pf_merge, pf_partial

        # merge associativity: re-merging the stored per-(lang, key)
        # sketches must give the bytes of one partial + merge over the raw rows
        raw = self.spark.read.parquet(self.inp.raw_path)
        direct = pf_merge(pf_partial(raw, "elem", by=["lang"]), by=["lang"]).select(
            "lang", "sketch", pf_count_col("sketch", 4).alias("estimate")
        ).collect()
        results = super().warmup()
        name, (_, quant) = results[0]
        # KLL compaction is not associative byte-wise: the first result
        # of the stored-sketch merge is the reference
        self.expected[name] = (canon(direct), canon(quant))
        return results

    def describe(self) -> dict:
        return {"stored_sketches_per_kind": self.inp.keys, "raw_rows": self.inp.raw_rows,
                "hll_sparse_share": self.inp.sparse_share}

    def sample(self) -> LayerSample:
        raw = pq.read_table(self.inp.raw_path, columns=["lang", "elem", "length"])
        raw = raw.slice(0, self.sizes.sample_rows)
        groups, _ = _codes(raw.column("lang"))
        stored = pq.read_table(self.inp.hll_path, columns=["lang", "sketch"]).slice(0, 2000)
        sk_groups, _ = _codes(stored.column("lang"))
        return LayerSample(
            raw.column("elem").combine_chunks(), groups,
            stored.column("sketch").to_pylist(), sk_groups,
            raw.column("length").to_numpy(),
        )

    def projected(self):
        return self.spark.read.parquet(self.inp.hll_path).select("lang", "sketch")


WORKLOADS = {w.name: w for w in (NorthBuild, SketchQueries, SketchRollup)}
