"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
the same parquet bytes. Strings are built column-at-a-time from integer
ids with numpy (fixed-width ASCII), so generation costs little next to
the queries, and every string column is an injective function of its id
column — exact distinct counts come from the ids, not from the strings.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# set-up writes files on this many threads (pyarrow and numpy release the GIL)
THREADS = 4

# Zipf-ish language mix of the north table (percent weights, 17 langs)
LANGS = [
    ("JavaScript", 30), ("Python", 20), ("Java", 12), ("C", 8), ("C++", 6),
    ("Go", 5), ("TypeScript", 4), ("Ruby", 3), ("PHP", 3), ("C#", 2),
    ("Swift", 1), ("Kotlin", 1), ("Rust", 1), ("Scala", 1), ("Perl", 1),
    ("Haskell", 1), ("Lua", 1),
]
LANG_NAMES = [name for name, _ in LANGS]
_LANG_P = np.array([w for _, w in LANGS], dtype=np.float64) / 100.0

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def splitmix(x: np.ndarray) -> np.ndarray:
    """Bijective 64-bit mix (splitmix64 finalizer)."""
    z = x.astype(np.uint64) + _GOLD
    z = (z ^ (z >> np.uint64(30))) * _M1
    z = (z ^ (z >> np.uint64(27))) * _M2
    return z ^ (z >> np.uint64(31))


def _digits(x: np.ndarray, width: int) -> np.ndarray:
    """Zero-padded decimal digits of ``x`` as an (n, width) uint8 matrix."""
    p = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return (x.astype(np.int64)[:, None] // p % 10 + 48).astype(np.uint8)


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_HEX2 = np.stack([np.repeat(_HEX, 16), np.tile(_HEX, 16)], axis=1)  # byte -> 2 chars


def _hex(x: np.ndarray, width: int = 16) -> np.ndarray:
    """Lower-case hex of the top ``width`` nibbles of uint64 ``x``."""
    be = np.ascontiguousarray(x, dtype=">u8").view(np.uint8).reshape(-1, 8)
    return _HEX2[be].reshape(-1, 16)[:, :width]


def _lit(s: str, n: int) -> np.ndarray:
    return np.broadcast_to(np.frombuffer(s.encode(), dtype=np.uint8), (n, len(s)))


def fixed_strings(*parts: np.ndarray) -> pa.Array:
    """Concatenate (n, w_i) uint8 blocks row-wise into an Arrow string array."""
    mat = np.ascontiguousarray(np.hstack(parts))
    n, w = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(mat)]
    )


def binary_array(mat: np.ndarray) -> pa.Array:
    """Rows of an (n, w) uint8 matrix as an Arrow binary array."""
    n, w = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(mat))]
    )


def flat_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(values, int64 offsets) of a string/binary array, zero-copy."""
    bufs = arr.buffers()
    wide = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    offsets = np.frombuffer(
        bufs[1], dtype=np.int64 if wide else np.int32, count=arr.offset + len(arr) + 1
    )[arr.offset:].astype(np.int64)
    return np.frombuffer(bufs[2], dtype=np.uint8), offsets


def _langs(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.searchsorted(np.cumsum(_LANG_P), rng.random(n), side="right").clip(0, 16)


def _lang_array(codes: np.ndarray) -> pa.Array:
    return pa.array(LANG_NAMES, pa.string()).take(pa.array(codes))


# ---------------------------------------------------------------------------
# north_build: (repo, path, commit, lang, content)
# ---------------------------------------------------------------------------

NORTH_METRICS = ("repo", "path", "commit", "content_sha")
_CONTENT_W = 96
# the north table is written as this many parquet files, one row group each
NORTH_FILES = 8


@dataclass
class NorthTable:
    path: str
    rows: int
    # per metric: lang code (17 = global) -> exact distinct count
    exact: dict[str, dict[int, int]]
    # per metric: (17, 16384) registers built single-process by the kernel
    regs: dict[str, np.ndarray] = field(repr=False)


def _content(cid: np.ndarray, pool: np.ndarray) -> np.ndarray:
    mixed = splitmix(cid ^ np.uint64(0xC0FFEE))
    off = (mixed % np.uint64(len(pool) - 80)).astype(np.int64)
    body = pool[off[:, None] + np.arange(80)]
    return np.hstack([_hex(mixed), body])


def write_north(out_dir: str, seed: int, rows: int) -> NorthTable:
    """Write the north table as ``NORTH_FILES`` parquet files and compute
    its references: exact distinct counts from the ids
    and per-lang HLL registers from the library kernel."""
    from pfutil_spark.kernel import hll

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pool = rng.integers(32, 127, 4096, dtype=np.uint8)
    lang = _langs(rng, rows)
    ids = {
        "repo": rng.integers(0, 50_000, rows),
        "path": rng.integers(0, 2_000_000, rows),
        # a commit touches ~3 files; each content value repeats ~5 times
        "commit": rng.integers(0, max(1, rows // 3), rows).astype(np.uint64),
        "content_sha": rng.integers(0, max(1, rows // 5), rows).astype(np.uint64),
    }

    # content_sha = sha256(content): hash each distinct content once
    uniq_cid, cinv = np.unique(ids["content_sha"], return_inverse=True)
    cmat = np.ascontiguousarray(_content(uniq_cid, pool))
    mv = memoryview(cmat.reshape(-1))
    digests = np.frombuffer(
        b"".join(
            hashlib.sha256(mv[i * _CONTENT_W:(i + 1) * _CONTENT_W]).digest()
            for i in range(len(uniq_cid))
        ),
        dtype=np.uint8,
    ).reshape(-1, 32)

    def write_file(f: int, s: int, e: int) -> dict[str, np.ndarray]:
        k = e - s
        rid, pid = ids["repo"][s:e], ids["path"][s:e]
        cm = splitmix(ids["commit"][s:e])
        cols = {
            "repo": fixed_strings(
                _lit("org", k), _digits(rid // 500, 3), _lit("/repo", k), _digits(rid % 500, 3)
            ),
            "path": fixed_strings(
                _lit("src/d", k), _digits(pid % 10, 1), _lit("/f", k),
                _digits(pid // 10 % 100, 2), _lit("/file_", k), _digits(pid // 1000, 4),
                _lit(".py", k),
            ),
            "commit": fixed_strings(
                _hex(cm), _hex(splitmix(cm)), _hex(splitmix(cm ^ _GOLD), 8)
            ),
            "lang": _lang_array(lang[s:e]),
            "content": fixed_strings(cmat[cinv[s:e]]),
        }
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       row_group_size=max(1, k), use_dictionary=["lang"])
        cols["content_sha"] = binary_array(digests[cinv[s:e]])
        regs = {}
        for m in NORTH_METRICS:
            regs[m] = np.zeros((17, hll.HLL_REGISTERS), dtype=np.uint8)
            idx, plen = hll.hash_and_patlen_flat(*flat_buffers(cols[m]), 4)
            hll.update_registers_grouped(regs[m], lang[s:e], idx, plen)
        return regs

    bounds = np.linspace(0, rows, NORTH_FILES + 1).astype(np.int64)
    with ThreadPoolExecutor(THREADS) as pool_ex:
        parts = list(pool_ex.map(write_file, range(NORTH_FILES), bounds[:-1], bounds[1:]))
    regs = {m: np.maximum.reduce([p[m] for p in parts]) for m in NORTH_METRICS}

    exact: dict[str, dict[int, int]] = {}
    for m in NORTH_METRICS:
        key = lang.astype(np.int64) << 32 | ids[m].astype(np.int64)
        u = np.unique(key)
        per = np.bincount((u >> 32).astype(np.int64), minlength=17)
        exact[m] = {g: int(per[g]) for g in range(17)}
        exact[m][17] = int(len(np.unique(ids[m])))
    return NorthTable(out_dir, rows, exact, regs)


def north_reference(t: NorthTable) -> dict[tuple[str | None, str], int]:
    """(lang or None, metric) -> estimate from the single-process kernel."""
    from pfutil_spark.kernel import hll

    out: dict[tuple[str | None, str], int] = {}
    for m in NORTH_METRICS:
        present = [g for g in range(17) if t.exact[m][g] > 0]
        for g in present:
            out[(LANG_NAMES[g], m)] = hll.estimate(t.regs[m][g], 4)
        out[(None, m)] = hll.estimate(t.regs[m].max(axis=0), 4)
    return out


# ---------------------------------------------------------------------------
# sketch_queries: TPC-H-shaped lineitem / orders plus an events table
# ---------------------------------------------------------------------------

_FLAGS = ["A", "N", "R"]
_STATUS = ["F", "O", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "search", "logout"]


def write_tpch(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """lineitem / orders / events at TPC-H row counts for ``scale``
    (sf0.1: 600k / 150k / 100k rows), one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_orders = max(10, int(1_500_000 * scale))
    n_li = 4 * n_orders
    n_ev = max(10, int(1_000_000 * scale))
    n_cust = max(1, n_orders // 10)
    n_part = max(1, int(200_000 * scale))

    # columns no query reads stay: like the real tables, they size the
    # footers pyscan parses at plan time and the pages the JVM scan skips
    ok = np.sort(rng.integers(1, 4 * n_orders, n_li))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": ok,
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, max(2, n_part // 20), n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(_FLAGS).take(pa.array(rng.integers(0, 3, n_li))),
        "l_linestatus": pa.array(["F", "O"]).take(pa.array(rng.integers(0, 2, n_li))),
    })
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": pa.array(_STATUS).take(pa.array(rng.integers(0, 3, n_orders))),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderpriority": pa.array(_PRIO).take(pa.array(rng.integers(0, 5, n_orders))),
        "o_clerk": fixed_strings(
            _lit("Clerk#", n_orders), _digits(rng.integers(1, 1001, n_orders), 9)
        ),
    })
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": (rng.zipf(1.3, n_ev) % max(2, n_ev // 5)).astype(np.int64),
        "event_type": pa.array(_EVENT_TYPES).take(
            pa.array(np.minimum(rng.geometric(0.45, n_ev) - 1, 5))
        ),
        "value": np.round(rng.exponential(20.0, n_ev), 3),
    })
    paths = {}
    for name, t in (("lineitem", lineitem), ("orders", orders), ("events", events)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


# ---------------------------------------------------------------------------
# sketch_rollup: raw (lang, key, elem, length) rows and stored sketches
# ---------------------------------------------------------------------------


# share of rollup keys that are heavy: ten thousand or so distinct elements,
# past the point where the sparse HLL encoding stops being smaller than
# the dense one (the other keys stay sparse)
HEAVY_SHARE = 0.005


def _lang_quota(n: int) -> np.ndarray:
    """Per-lang counts summing to ``n``, proportional to the lang weights."""
    q = np.floor(_LANG_P * n).astype(np.int64)
    q[np.argsort(q - _LANG_P * n, kind="stable")[: n - q.sum()]] += 1
    return q


@dataclass
class RollupInput:
    raw_path: str
    hll_path: str
    kll_path: str
    keys: int  # stored sketches per kind (HLL and KLL)
    raw_rows: int
    sparse_share: float  # of the stored HLL sketches


def write_rollup(out_dir: str, seed: int, keys: int) -> RollupInput:
    """Raw rows keyed by (lang, key) and the sketches a daily job would
    have stored for them: one canonical HLL (v4) and one KLL sketch of
    content length per (lang, key), encoded by the library kernel."""
    from pfutil_spark.kernel import hll, kll

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    # every seed gives each lang the same number of keys and of heavy keys:
    # the merge exchange then has the same per-lang bytes, and adaptive
    # execution coalesces its partitions the same way, whatever the seed
    quota = _lang_quota(keys)
    key_lang = np.repeat(np.arange(len(quota)), quota)
    heavy = np.concatenate([np.arange(c) < round(c * HEAVY_SHARE) for c in quota])
    order = rng.permutation(keys)
    key_lang, heavy = key_lang[order], heavy[order]
    per_key = np.where(heavy, rng.integers(9000, 16000, keys), rng.integers(1, 60, keys))
    g = np.repeat(np.arange(keys, dtype=np.int64), per_key)
    n = len(g)
    elem = fixed_strings(_hex(splitmix(rng.integers(0, 1 << 40, n).astype(np.uint64))))
    length = rng.lognormal(7.0, 1.2, n).round()

    key_str = fixed_strings(_lit("k", keys), _digits(np.arange(keys), 7))
    lang_col = _lang_array(key_lang)
    raw_path = os.path.join(out_dir, "raw.parquet")
    pq.write_table(pa.table({
        "lang": lang_col.take(pa.array(g)),
        "key": key_str.take(pa.array(g)),
        "elem": elem,
        "length": length,
    }), raw_path)

    idx, plen = hll.hash_and_patlen_flat(*flat_buffers(elem), 4)
    hdata, hoffs = hll.encode_groups(g, idx, plen, keys)
    kdata, koffs = kll.fold_groups_level0(length, g, keys)
    enc = np.asarray(hdata)[np.asarray(hoffs[:-1], dtype=np.int64) + 4]
    hll_path = os.path.join(out_dir, "hll.parquet")
    kll_path = os.path.join(out_dir, "kll.parquet")
    for path, data, offs in ((hll_path, hdata, hoffs), (kll_path, kdata, koffs)):
        sketches = pa.Array.from_buffers(
            pa.binary(), keys,
            [None, pa.py_buffer(np.asarray(offs, dtype=np.int32)),
             pa.py_buffer(np.ascontiguousarray(data))],
        )
        pq.write_table(pa.table({"lang": lang_col, "key": key_str, "sketch": sketches}), path)
    return RollupInput(
        raw_path, hll_path, kll_path, keys, n, float(np.mean(enc == hll.ENC_SPARSE))
    )
