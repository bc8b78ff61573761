"""Distributed HLL aggregation — the PFADD / PFMERGE / PFCOUNT surface of
the reference (`v4/HllV4.java:31-98`) industrialized as a two-phase Spark
plan.

Why hand-rolled two-phase instead of a GROUPED_AGG pandas UDF: Spark does
NOT apply partial aggregation (map-side combine) to pandas UDAFs — every
row of a group would cross the shuffle.  Here stage P (``mapInArrow``)
reduces each input partition to ONE constant-size sketch per group before
any shuffle, so shuffle bytes are O(groups x partitions x sketch), not
O(rows) — the property that makes the plan survive a 100x scale-up.

    stage P  mapInArrow(partial)         per-partition PFADD accumulation
    stage S  repartition(keys[, salt])   the only shuffle
    stage M  mapInArrow(merge)           register-wise max (PFMERGE)
    eval     fused into stage M, or pf_count_col() (PFCOUNT)

Skew: one hot key's partials (one per input partition) can be spread over
``salt_buckets`` intermediate merge tasks — legal because register-max is
associative + commutative (HllByteBuffer.java:341-398).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from pfutil_spark.kernel import hll
from pfutil_spark.kernel.sketch_common import (
    check_arrow_binary_size,
    fold_rows_by_rank,
    segment_ranks,
)

SKETCH_COL = "sketch"


def _out_schema(df: DataFrame, by: Sequence[str]) -> StructType:
    fields = [df.schema[c] for c in by]
    return StructType(list(fields) + [StructField(SKETCH_COL, BinaryType(), False)])


def _varbin_buffers(arr: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (values, offsets) numpy views of an Arrow string/binary
    array (handles 32- and 64-bit offset variants and slice offsets)."""
    import pyarrow as pa

    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        off_dt = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        off_dt = np.int32
    else:
        arr = arr.cast(pa.large_binary())
        off_dt = np.int64
    bufs = arr.buffers()
    itemsize = np.dtype(off_dt).itemsize
    offsets = np.frombuffer(
        bufs[1], dtype=off_dt, count=len(arr) + 1, offset=arr.offset * itemsize
    )
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data, offsets


def _group_codes(batch: "pa.RecordBatch", by: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized multi-column grouping: dictionary-encode each key column
    (Arrow C++), then CASCADE-combine — after each column the pair codes
    are re-factorized through np.unique, so intermediate products never
    exceed n * (n+1) (no int64 overflow regardless of key-column count)."""
    import pyarrow.compute as pc

    comb = None
    first_idx = None
    for c in by:
        enc = pc.dictionary_encode(batch.column(c))
        codes = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False).astype(np.int64)
        if comb is None:
            comb = codes + 1
        else:
            k = int(codes.max(initial=-1)) + 2
            comb = comb * k + (codes + 1)
        # re-factorize: comb values become dense ids in [0, n_groups)
        _, first_idx, comb = np.unique(comb, return_index=True, return_inverse=True)
    return comb, first_idx


LINEAGE_COLS = ("_partition_id", "_rows_seen")

# merge-stage strategy knobs: a work group is HEAVY (register-row fold)
# when it has any dense partial or at least this many sparse items.
# Heavy chunks cap their register rows (one merged row per group, one
# unpacked row per dense partial) at this many bytes. The budget is
# deliberately SMALL (64 rows): unpack_dense's temporaries run ~230KB
# per row, glibc only recycles freed mmap'd blocks up to ~32MB back into
# the arena, and fresh pages fault in slowly (NOTES.md) — bounded chunks
# keep every merge task's working set in warm, reused memory
_HEAVY_ITEMS = 4096
_MATRIX_BUDGET = 1 << 20


def _tiled_binary_array(item: bytes, n: int) -> "pa.Array":
    """``n`` copies of ``item`` as an Arrow binary array built from ONE
    tiled buffer — no per-element Python list (the all-empty-group
    corner of the direct-emit/merge paths must stay vectorized at
    high cardinality)."""
    import pyarrow as pa

    b = np.frombuffer(item, dtype=np.uint8)
    offs = np.arange(n + 1, dtype=np.int32) * np.int32(len(b))
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(np.tile(b, n))]
    )


def pf_partial(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    max_groups_in_flight: int = 8192,
    lineage: bool = False,
    direct_emit_groups: int = 4096,
) -> DataFrame:
    """Stage P: per-partition PFADD into per-group register vectors; emits
    one ``(by..., sketch)`` row per (partition, group).

    Arrow-native (``mapInArrow``): element bytes are hashed straight out
    of the Arrow value/offset buffers — zero copies, zero per-row Python.
    The kernel accumulates ACROSS batches of the partition (bounded by
    ``max_groups_in_flight`` x 16KB memory; above that it flushes and
    keeps going), so the number of partial states per group is at most
    the number of input partitions, not the number of Arrow batches.

    HIGH-CARDINALITY ``by`` (>= ``direct_emit_groups`` distinct keys in a
    batch — the near-unique-key regime where cross-batch accumulation
    buys nothing): the batch short-circuits to
    :func:`kernel.hll.encode_groups`, which writes canonical sparse
    encodings for ALL groups of the batch into one flat buffer with pure
    numpy — no (n_groups x 16KB) register matrix (131072 groups would be
    a 2GB allocation), no per-group Python, keys passed through as Arrow
    arrays. Output bytes are identical to the accumulation path
    (both funnel through the canonical encoder).

    ``lineage=True`` appends per-partial provenance/metrics columns
    (_partition_id, _rows_seen) for checkpoint audit tables.
    """
    import pyarrow as pa

    by = list(by)
    schema = _out_schema(df, by)
    if lineage:
        schema = StructType(
            schema.fields
            + [
                StructField(LINEAGE_COLS[0], LongType(), False),
                StructField(LINEAGE_COLS[1], LongType(), False),
            ]
        )
    # column pruning before Arrow transfer; non-string/binary elements are
    # PFADDed by their canonical string form (like redis-cli would send)
    elem_type = df.schema[element].dataType.typeName()
    elem_col = (
        F.col(element)
        if elem_type in ("string", "binary")
        else F.col(element).cast("string").alias(element)
    )
    pruned = df.select(*by, elem_col)

    def partial_fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        acc: dict[tuple, np.ndarray] = {}
        rows_seen: dict[tuple, int] = {}
        key_fields: list = []
        seen_schema = False
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        def flush() -> "pa.RecordBatch":
            keys = list(acc.keys())
            arrays = []
            names = []
            for j, c in enumerate(by):
                f = key_fields[j]
                arrays.append(pa.array([k[j] for k in keys], type=f.type))
                names.append(c)
            arrays.append(pa.array([hll.encode(acc[k]) for k in keys], type=pa.binary()))
            names.append(SKETCH_COL)
            if lineage:
                arrays.append(pa.array([pid] * len(keys), type=pa.int64()))
                arrays.append(pa.array([rows_seen[k] for k in keys], type=pa.int64()))
                names.extend(LINEAGE_COLS)
            return pa.record_batch(arrays, names=names)

        for batch in batches:
            if not seen_schema:
                key_fields = [batch.schema.field(c) for c in by]
                seen_schema = True
            elem = batch.column(element)
            if elem.null_count:
                batch = batch.filter(pc.is_valid(elem))
                elem = batch.column(element)
            if len(batch) == 0:
                continue
            data, offsets = _varbin_buffers(elem)
            idx, patlen = hll.hash_and_patlen_flat(data, offsets, version)
            if by:
                inverse, first_idx = _group_codes(batch, by)
                n_groups = len(first_idx)
                if n_groups >= direct_emit_groups:
                    # high-cardinality batch: vectorized direct emit
                    buf, offs = hll.encode_groups(inverse, idx, patlen, n_groups)
                    if offs[-1] > (1 << 31) - 1:  # pathological: ~all dense
                        raise ValueError(
                            "pf_partial direct-emit batch exceeds 2GB of "
                            "sketch bytes; lower "
                            "spark.sql.execution.arrow.maxRecordsPerBatch"
                        )
                    sk_arr = pa.Array.from_buffers(
                        pa.binary(),
                        n_groups,
                        [
                            None,
                            pa.py_buffer(offs.astype(np.int32)),
                            pa.py_buffer(buf),
                        ],
                    )
                    take = pa.array(first_idx)
                    arrays = [batch.column(c).take(take) for c in by] + [sk_arr]
                    names = by + [SKETCH_COL]
                    if lineage:
                        counts = np.bincount(inverse, minlength=n_groups)
                        arrays.append(pa.array(np.full(n_groups, pid, dtype=np.int64)))
                        arrays.append(pa.array(counts.astype(np.int64)))
                        names = names + list(LINEAGE_COLS)
                    yield pa.record_batch(arrays, names=names)
                    continue
                local = np.zeros((n_groups, hll.HLL_REGISTERS), dtype=np.uint8)
                hll.update_registers_grouped(local, inverse, idx, patlen)
                take = pa.array(first_idx)
                key_cols = [batch.column(c).take(take).to_pylist() for c in by]
                counts = np.bincount(inverse, minlength=n_groups)
                for i in range(n_groups):
                    k = tuple(col[i] for col in key_cols)
                    prev = acc.get(k)
                    if prev is None:
                        acc[k] = local[i]
                    else:
                        np.maximum(prev, local[i], out=prev)
                    rows_seen[k] = rows_seen.get(k, 0) + int(counts[i])
            else:
                regs = acc.get(())
                if regs is None:
                    regs = acc[()] = hll.empty_registers()
                hll.update_registers(regs, idx, patlen)
                rows_seen[()] = rows_seen.get((), 0) + len(batch)
            if len(acc) > max_groups_in_flight:
                yield flush()
                acc = {}
                rows_seen = {}
        if not acc and not by:
            acc[()] = hll.empty_registers()
            rows_seen[()] = 0
        if acc:
            yield flush()

    # python-native parquet scan fast path (guide §4): when the input is
    # exactly a projection over a small local parquet relation, read the
    # columns with pyarrow inside the workers — no JVM scan, no
    # row->Arrow boundary, row-group-slice parallelism finer than any
    # JVM split. Feeds the SAME partial_fn, so kernel semantics are
    # identical; falls back to the JVM scan in every other case
    # (lineage needs real scan partition ids, so it always falls back).
    if not lineage:
        from pfutil_spark.operators import pyscan

        ps = pyscan.try_parquet_pyscan(pruned, by + [element])
        if ps is not None:

            def pyscan_fn(id_batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
                yield from partial_fn(pyscan.read_spec_batches(ps, id_batches))

            return pyscan.task_frame(df.sparkSession, ps).mapInArrow(
                pyscan_fn, schema
            )
    return pruned.mapInArrow(partial_fn, schema)


def _repartition_for_merge(pruned: DataFrame, keys: list[str]) -> DataFrame:
    """The merge exchange. Default: hash repartition on the keys and let
    AQE size the partition count (round-6 interleaved A/B on the
    17-group x 64-partial flagship merge: explicit 2/17/32 partitions
    all land within noise of AQE's choice — 1.58-1.72s best reps — so
    the adaptive default stays). ``pfutil.merge.partitions`` remains as
    an explicit override for merges whose per-partition sketch bytes
    approach the 2GB Arrow bound (AQE advisory sizing cannot see that
    the merge cost is per-sketch CPU, not bytes)."""
    if not keys:
        return pruned.repartition(1)
    spark = pruned.sparkSession
    n = spark.conf.get("pfutil.merge.partitions", None)
    if n is not None:
        return pruned.repartition(int(n), *[F.col(c) for c in keys])
    return pruned.repartition(*[F.col(c) for c in keys])


def _merge_stage(
    df: DataFrame,
    keys: list[str],
    sketch_col: str,
    emit_sketch: bool = True,
    count_version: int | None = None,
    estimate_col: str = "estimate",
) -> DataFrame:
    """One hash-partitioned Arrow merge stage: repartition on ``keys``
    (the only Exchange — no per-partition Sort, unlike applyInPandas),
    then merge ALL groups of a partition in one vectorized pass:

    * groups with a single partial whose bytes already carry the
      canonical invalid-cache header PASS THROUGH untouched (an Arrow
      ``take`` — zero decode/encode; in the near-unique-key regime that
      is ~every group, which is what makes 10^6-group merges cheap)
    * remaining groups batch-decode and re-encode canonically. Groups
      with a dense partial (or many sparse items) fold into one register
      row each: dense partials by fan-in rank, sparse items with one
      ``np.maximum.at``. The rest fold as (group, register, value) items.

    Correct for any interleaving because register-max is associative /
    commutative / idempotent (HllByteBuffer.java:341-398 semantics).

    ``count_version`` (r6) additionally FUSES the PFCOUNT estimate into
    the same Python stage — the separate pf_count_col projection is a
    second ArrowEvalPython round-trip over the merged sketches, and the
    fused estimate is bit-identical (same ``estimate_bytes_batch`` over
    the same canonical bytes). ``emit_sketch=False`` drops the sketch
    column for count-only consumers. This ONE body backs
    pf_merge / pf_count_distinct / the north report's sketch+estimate
    stage, so the 2GB guard and merge semantics cannot drift apart.
    """
    import pyarrow as pa

    out_fields = [df.schema[c] for c in keys]
    if emit_sketch:
        out_fields.append(StructField(SKETCH_COL, BinaryType(), False))
    if count_version is not None:
        out_fields.append(StructField(estimate_col, LongType(), True))
    out_schema = StructType(out_fields)
    pruned = df.select(*keys, sketch_col)  # only keys + sketch cross the shuffle
    target = _repartition_for_merge(pruned, keys)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        got = [b for b in batches if b.num_rows]
        if not got:
            return
        try:
            batch = pa.Table.from_batches(got).combine_chunks().to_batches()[0]
        except pa.lib.ArrowInvalid as e:  # int32 binary-offset overflow
            raise ValueError(
                "merge partition exceeds 2GB of sketch bytes; raise "
                "spark.sql.shuffle.partitions"
            ) from e
        merged = merge_record_batch(batch, keys, sketch_col)
        if count_version is None:
            yield merged
            return
        est = hll.estimate_bytes_batch(
            merged.column(SKETCH_COL).to_pylist(), count_version
        )
        arrays = [merged.column(c) for c in keys]
        names = list(keys)
        if emit_sketch:
            arrays.append(merged.column(SKETCH_COL))
            names.append(SKETCH_COL)
        arrays.append(pa.array(est, type=pa.int64()))
        names.append(estimate_col)
        yield pa.record_batch(arrays, names=names)

    return target.mapInArrow(fn, out_schema)


def _salted_premerge(
    df: DataFrame, by: list[str], sketch_col: str, salt_buckets: int
) -> DataFrame:
    """The intermediate salted merge shared by pf_merge and
    pf_count_distinct: key a first register-max fold by
    ``(by..., pmod(xxhash64(sketch), S))`` so a hot group's partials are
    reduced by S tasks before the final single-task merge (legal —
    register max is associative + commutative)."""
    salted = df.withColumn(
        "__pf_salt", F.pmod(F.xxhash64(F.col(sketch_col)), F.lit(salt_buckets))
    )
    return _merge_stage(salted, by + ["__pf_salt"], sketch_col).drop("__pf_salt")


def merge_record_batch(
    batch: "pa.RecordBatch", keys: list[str], sketch_col: str
) -> "pa.RecordBatch":
    """Merge ALL groups of one Arrow batch (a merge task's partition) in a
    single vectorized pass — module-level so tests can drive it directly
    and assert the no-per-group-Python property by monkeypatching the
    scalar opcode walkers (which must never be called here)."""
    import pyarrow as pa

    n = batch.num_rows
    sk = batch.column(sketch_col)
    if keys:
        inverse, first_idx = _group_codes(batch, keys)
        n_groups = len(first_idx)
    else:
        inverse = np.zeros(n, dtype=np.int64)
        first_idx = np.array([0], dtype=np.int64)
        n_groups = 1
    counts = np.bincount(inverse, minlength=n_groups)
    order = np.argsort(inverse, kind="stable")
    gstarts = np.concatenate(([0], np.cumsum(counts)))[:-1]

    data, offsets = _varbin_buffers(sk)
    lens = np.diff(offsets)
    # clamp so a (corrupt) short trailing buffer can't index past the
    # end of the values buffer — such rows fail `lens >= 18` and fall
    # through to the decode path, which raises the proper error
    if len(data) < 16:
        canon = np.zeros(n, dtype=bool)
    else:
        off0 = np.minimum(offsets[:-1], len(data) - 16)
        canon = (
            (lens >= 18)
            & (data[off0] == hll.MAGIC[0])
            & (data[off0 + 1] == hll.MAGIC[1])
            & (data[off0 + 2] == hll.MAGIC[2])
            & (data[off0 + 3] == hll.MAGIC[3])
            & (data[off0 + 15] == 0x80)
        )
        # bytes 5-14 must be zero and byte 15 exactly 0x80 — precisely the
        # _header(enc, None) bytes a stage-P partial carries. A third-party
        # single with stale cache bytes / extra flag bits re-routes to the
        # work path (canonical re-encode), so pf_merge output bytes can't
        # depend on whether that sketch shared a group with another partial
        for j in range(5, 15):
            canon &= data[off0 + j] == 0
    single_row = order[gstarts]  # the group's row when counts == 1
    passthrough = (counts == 1) & canon[single_row]
    # header probe is necessary but not sufficient — and all of the
    # deeper checks are VECTORIZED (no per-group Python, the r3 fix):
    # * sparse singles: flat opcode scan must cover exactly 16384
    #   registers (corrupt bytes re-route to the decode path → raise)
    # * dense singles: exact length, AND a sparse-eligibility probe —
    #   a dense-encoded but sparse-ELIGIBLE sketch (encode(
    #   force_dense=True) or a third-party writer) is re-routed to the
    #   work path so pf_merge output bytes never depend on which
    #   partition a partial landed in (canonical re-encode either way)
    cand = np.flatnonzero(passthrough)
    if len(cand):
        rows_c = single_row[cand]
        enc_c = data[offsets[rows_c] + 4]  # lens >= 18 via canon probe
        ok = np.zeros(len(cand), dtype=bool)
        d = np.flatnonzero(
            (enc_c == hll.ENC_DENSE) & (lens[rows_c] == hll.HLL_DENSE_SIZE)
        )
        if len(d):
            regs_d = hll.unpack_dense(
                hll.gather_dense_payloads(data, offsets, rows_c[d])
            )
            nnz_d = (regs_d != 0).sum(axis=1)
            sparse_eligible = (regs_d.max(axis=1) <= 32) & (
                nnz_d * 3 + 4 < hll.HLL_DENSE_SIZE - hll.HEADER_LEN
            )
            ok[d[~sparse_eligible]] = True  # canonical dense: pass
        sp = np.flatnonzero(enc_c == hll.ENC_SPARSE)
        if len(sp):
            rs = rows_c[sp]
            # pass through only valid AND canonical sparse bytes: a valid
            # but non-canonical encoding (third-party writer) re-routes to
            # the work path and re-encodes canonically, matching what the
            # same sketch produces when its group has >1 partial — the
            # dense probe above enforces the same for dense singles
            _, canon_sp = hll.sparse_valid_canonical_flat(
                data, offsets[rs] + hll.HEADER_LEN, offsets[rs + 1]
            )
            ok[sp] = canon_sp
        passthrough[cand[~ok]] = False

    pass_ids = np.flatnonzero(passthrough)
    work_ids = np.flatnonzero(~passthrough)
    arrays = []
    if len(pass_ids):
        arrays.append(sk.take(pa.array(single_row[pass_ids])))
    if len(work_ids):
        work_row_mask = ~passthrough[inverse[order]]
        rows = order[work_row_mask]  # group-sorted rows of work groups
        # Two complementary vectorized merge strategies, chosen PER
        # GROUP (zero per-group Python either way):
        # * LIGHT groups (all-sparse, few items): parse partials to
        #   (group, reg, val) items with the flat opcode scanner and
        #   fold through encode_groups — the near-unique long tail,
        #   where materializing 16KB register rows would be a 1000x
        #   memory blowup.
        # * HEAVY groups (any dense partial, or >= _HEAVY_ITEMS sparse
        #   items): one merged 16384-register row per group. Dense
        #   partials are unpacked and max-folded into it by fan-in rank;
        #   sparse partials never become rows, their decoded items go in
        #   with np.maximum.at — item-ifying dense partials costs a
        #   multi-million-item sort (measured 4x slower than the pandas
        #   engine on a 68-group x 64-partial dense merge).
        work_code = np.repeat(
            np.arange(len(work_ids), dtype=np.int64), counts[work_ids]
        )  # dense code per work ROW, group-sorted like `rows`
        wdata, woffs = _varbin_buffers(sk.take(pa.array(rows)))
        enc_w = hll.validate_headers_flat(wdata, woffs)
        dense_rows = np.flatnonzero(enc_w == hll.ENC_DENSE)
        sparse_rows = np.flatnonzero(enc_w == hll.ENC_SPARSE)
        iseg, rr_s, vv_s = hll.decode_sparse_pairs_flat(
            wdata,
            woffs[:-1][sparse_rows] + hll.HEADER_LEN,
            woffs[1:][sparse_rows],
        )
        n_wg = len(work_ids)
        item_row = sparse_rows[iseg]  # work-row index per item, sorted
        item_g = work_code[item_row]
        has_dense = np.zeros(n_wg, dtype=bool)
        has_dense[work_code[dense_rows]] = True
        heavy = has_dense | (
            np.bincount(item_g, minlength=n_wg) >= _HEAVY_ITEMS
        )
        light_sel = ~heavy[item_g]
        gg_parts = [item_g[light_sel]]
        rr_parts = [rr_s[light_sel]]
        vv_parts = [vv_s[light_sel]]
        hd_code_parts: list = []  # heavy groups whose MERGE is dense
        hd_pay_parts: list = []   # their packed 12288-byte payloads
        if heavy.any():
            R = hll.HLL_REGISTERS
            # chunks walk the heavy groups in code order, each taking one
            # merged row then one row per dense partial, and cut every B
            # rows. A hot group's dense rows may run on over several
            # chunks, its merged row carried along: B + 1 rows at most
            hg = np.flatnonzero(heavy)
            hpos = np.cumsum(heavy) - 1  # work group -> heavy index
            d_h = hpos[work_code[dense_rows]]  # nondecreasing
            nd = np.bincount(d_h, minlength=len(hg))
            first = np.cumsum(1 + nd) - (1 + nd)  # merged row's position
            B = _MATRIX_BUDGET // R
            g_c0, g_c1 = first // B, (first + nd) // B  # first/last chunk
            d_c = (first[d_h] + 1 + segment_ranks(d_h)) // B
            hitem = np.flatnonzero(~light_sel)
            cs = np.arange(int(g_c1[-1]) + 2)
            g_lo = np.searchsorted(g_c1, cs)  # chunk c: groups [lo, hi)
            g_hi = np.searchsorted(g_c0, cs, side="right")
            d_b = np.searchsorted(d_c, cs)
            # sparse items go in with their group's first chunk
            i_b = np.searchsorted(g_c0[hpos[item_g[hitem]]], cs)
            carry = None
            for c in range(len(cs) - 1):  # loop over CHUNKS, not groups
                lo, hi = g_lo[c], g_hi[c]
                merged = np.zeros((hi - lo, R), dtype=np.uint8)
                if carry is not None:
                    merged[0] = carry
                dsel = slice(d_b[c], d_b[c + 1])
                regs = hll.unpack_dense(
                    hll.gather_dense_payloads(wdata, woffs, dense_rows[dsel])
                )
                fold_rows_by_rank(np.maximum, merged, d_h[dsel] - lo, regs)
                ci = hitem[i_b[c] : i_b[c + 1]]
                np.maximum.at(merged, (hpos[item_g[ci]] - lo, rr_s[ci]), vv_s[ci])
                still_open = int(g_c1[hi - 1] > c)
                carry = merged[-1] if still_open else None
                merged = merged[: len(merged) - still_open]
                cg = hg[lo : hi - still_open]
                # merged groups that would encode DENSE skip item-ification
                # entirely: pack the rows straight to wire payloads (in the
                # dense-partial regime that is ~every heavy group)
                nnz_m = np.count_nonzero(merged, axis=1)
                sp_ok = (merged.max(axis=1) <= 32) & (
                    nnz_m * 3 + 4 < hll.HLL_DENSE_SIZE - hll.HEADER_LEN
                )
                if (~sp_ok).any():
                    hd_code_parts.append(cg[~sp_ok])
                    hd_pay_parts.append(hll.pack_dense(merged[~sp_ok]))
                if sp_ok.any():
                    rnz, cnz = np.nonzero(merged[sp_ok])
                    gg_parts.append(cg[sp_ok][rnz])
                    rr_parts.append(cnz.astype(np.int64))
                    vv_parts.append(merged[sp_ok][rnz, cnz])
        gg = np.concatenate(gg_parts)
        rr = np.concatenate(rr_parts)
        vv = np.concatenate(vv_parts)
        hd_codes = (
            np.concatenate(hd_code_parts)  # ascending (chunks iterate codes)
            if hd_code_parts
            else np.zeros(0, dtype=np.int64)
        )
        # groups with no nonzero register anywhere: canonical empty
        present = np.zeros(len(work_ids), dtype=bool)
        present[gg] = True
        n_present = int(present.sum())
        if n_present:
            remap = np.cumsum(present) - 1  # identity when all present
            mdata, moffs = hll.encode_groups(
                remap[gg] if n_present < len(work_ids) else gg,
                rr,
                vv,
                n_present,
            )
            check_arrow_binary_size(int(moffs[-1]))
            arrays.append(
                pa.Array.from_buffers(
                    pa.binary(),
                    n_present,
                    [
                        None,
                        pa.py_buffer(moffs.astype(np.int32)),
                        pa.py_buffer(mdata),
                    ],
                )
            )
        hd_mask = np.zeros(len(work_ids), dtype=bool)
        hd_mask[hd_codes] = True
        n_hd = len(hd_codes)
        n_empty = len(work_ids) - n_present - n_hd
        if n_empty:
            # canonical empty sketches for all-empty groups, built as
            # one tiled buffer (no per-group list)
            arrays.append(
                _tiled_binary_array(hll.encode(hll.empty_registers()), n_empty)
            )
        if n_hd:
            # dense-merged heavy groups: canonical dense wire rows built
            # in one uniform buffer (header == _header(ENC_DENSE, None))
            check_arrow_binary_size(n_hd * hll.HLL_DENSE_SIZE)
            out2d = np.zeros((n_hd, hll.HLL_DENSE_SIZE), dtype=np.uint8)
            out2d[:, 0:4] = np.frombuffer(hll.MAGIC, dtype=np.uint8)
            out2d[:, 4] = hll.ENC_DENSE
            out2d[:, 15] = 0x80  # invalid-cache flag
            out2d[:, hll.HEADER_LEN :] = np.vstack(hd_pay_parts)
            hoffs = np.arange(n_hd + 1, dtype=np.int32) * np.int32(
                hll.HLL_DENSE_SIZE
            )
            arrays.append(
                pa.Array.from_buffers(
                    pa.binary(),
                    n_hd,
                    [None, pa.py_buffer(hoffs), pa.py_buffer(out2d.reshape(-1))],
                )
            )
    concat = pa.concat_arrays([a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays])
    perm = np.empty(n_groups, dtype=np.int64)
    perm[pass_ids] = np.arange(len(pass_ids))
    if len(work_ids):
        # work section order: item-encoded groups first (encode_groups
        # output order), then the all-empty groups, then dense-merged
        wperm = np.empty(len(work_ids), dtype=np.int64)
        wperm[present] = np.arange(n_present)
        empty_mask = ~present & ~hd_mask
        wperm[empty_mask] = n_present + np.arange(n_empty)
        wperm[hd_mask] = n_present + n_empty + np.arange(n_hd)
        perm[work_ids] = len(pass_ids) + wperm
    sketch_out = concat.take(pa.array(perm))
    take = pa.array(first_idx)
    key_arrays = [batch.column(c).take(take) for c in keys]
    return pa.record_batch(key_arrays + [sketch_out], names=keys + [SKETCH_COL])


def pf_merge(
    df: DataFrame,
    by: Sequence[str] = (),
    sketch_col: str = SKETCH_COL,
    salt_buckets: int | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """Stage M: PFMERGE all partial sketches of a group into one.

    ``engine='arrow'`` (default) merges every group of a partition in one
    vectorized pass (see :func:`_merge_stage`) — same bytes as the
    pandas engine (asserted by tests), but no per-group pandas calls, so
    it survives millions of groups. ``engine='pandas'`` keeps the
    original ``applyInPandas`` fold.

    ``salt_buckets=S`` inserts an intermediate merge keyed by
    ``(by..., pmod(xxhash64(sketch), S))`` so a hot group's partials are
    reduced by S tasks before the final single-task merge — the register
    max is associative/commutative so any grouping of the fold is legal.

    When to salt: a group's merge fan-in is AT MOST the number of input
    partitions (stage P pre-aggregates per partition), so salting only
    pays when that count is large — thousands of upstream partitions
    per hot key (the 1000-executor case). At small partition counts the
    extra stage costs more than it saves (measured: 2x slower at 64
    partitions); leave it off there.
    """
    by = list(by)
    if engine == "arrow":
        if salt_buckets and salt_buckets > 1:
            df = _salted_premerge(df, by, sketch_col, salt_buckets)
            sketch_col = SKETCH_COL
        return _merge_stage(df, by, sketch_col)

    schema = _out_schema(df, by)

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = hll.merge_registers(hll.decode_many(list(pdf[sketch_col])))
        head = pdf.iloc[[0]][by].reset_index(drop=True)
        head[SKETCH_COL] = [hll.encode(merged)]
        return head

    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "__pf_salt", F.pmod(F.xxhash64(F.col(sketch_col)), F.lit(salt_buckets))
        )
        mid_schema = StructType(
            [df.schema[c] for c in by]
            + [StructField("__pf_salt", LongType(), False),
               StructField(SKETCH_COL, BinaryType(), False)]
        )

        def merge_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            merged = hll.merge_registers(hll.decode_many(list(pdf[sketch_col])))
            head = pdf.iloc[[0]][by + ["__pf_salt"]].reset_index(drop=True)
            head[SKETCH_COL] = [hll.encode(merged)]
            return head

        df = (
            salted.groupBy(*(by + ["__pf_salt"]))
            .applyInPandas(merge_salted, mid_schema)
            .drop("__pf_salt")
        )

    if by:
        return df.groupBy(*by).applyInPandas(merge_fn, schema)
    # global merge: single constant group (tiny — one row per partition)
    return (
        df.withColumn("__pf_g", F.lit(1))
        .groupBy("__pf_g")
        .applyInPandas(merge_fn, schema)
        .select(SKETCH_COL)
    )


def pf_count_col(sketch_col: str | Column = SKETCH_COL, version: int = 4) -> Column:
    """PFCOUNT as a scalar vectorized UDF over a sketch column
    (v4/HllhdrV4.java:127-157 / v5/HllhdrV5.java:131-157 estimators)."""

    @F.pandas_udf(LongType())
    def _count(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        # sparse-native: no (n, 16384) materialization — at millions of
        # long-tail group sketches that matrix alone would be many GB
        return pd.Series(hll.estimate_bytes_batch(list(s), version))

    return _count(F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col)


def pf_dump_col(sketch_col: str | Column = SKETCH_COL, version: int = 4) -> Column:
    """Redis-`SET`-loadable wire dump with the cardinality cache stamped
    (byte-parity with Redis cached dumps — v4/HllV4Test.java:46-55)."""

    @F.pandas_udf(BinaryType())
    def _dump(s: pd.Series) -> pd.Series:
        return pd.Series([hll.dump(r, version) for r in hll.decode_many(list(s))])

    return _dump(F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col)


def pf_restore_col(raw_col: str | Column, version: int = 4) -> Column:
    """Validate + canonicalize an externally produced Redis HLL dump into
    our in-flight encoding (restore path, v4/HllV4.java:100-127)."""

    @F.pandas_udf(BinaryType())
    def _restore(s: pd.Series) -> pd.Series:
        return pd.Series([hll.encode(r) for r in hll.decode_many(list(s))])

    return _restore(F.col(raw_col) if isinstance(raw_col, str) else raw_col)


def _merge_count_stage(
    df: DataFrame,
    keys: list[str],
    sketch_col: str,
    version: int,
    estimate_col: str,
) -> DataFrame:
    """Fused merge + PFCOUNT in ONE Python stage (round-6): see
    :func:`_merge_stage` (``count_version``) for the rationale."""
    return _merge_stage(
        df,
        keys,
        sketch_col,
        emit_sketch=False,
        count_version=version,
        estimate_col=estimate_col,
    )


def pf_count_distinct(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    salt_buckets: int | None = None,
    estimate_col: str = "estimate",
) -> DataFrame:
    """End-to-end approximate COUNT(DISTINCT element) [GROUP BY by...] with
    Redis-PFCOUNT-identical results. The flagship operator."""
    by = list(by)
    partials = pf_partial(df, element, by, version)
    if salt_buckets and salt_buckets > 1:
        partials = _salted_premerge(partials, by, SKETCH_COL, salt_buckets)
    return _merge_count_stage(partials, by, SKETCH_COL, version, estimate_col)


def pf_sketch(
    df: DataFrame,
    element: str,
    by: Sequence[str] = (),
    version: int = 4,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Like :func:`pf_count_distinct` but returns the mergeable sketch
    column (checkpointable; feed back via :func:`pf_merge`)."""
    return pf_merge(pf_partial(df, element, by, version), by, salt_buckets=salt_buckets)
