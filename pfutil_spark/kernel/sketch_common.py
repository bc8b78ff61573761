"""Shared utilities for the extension sketches (count-min, Bloom, KLL,
t-digest).

These have no Redis wire-compat constraint (reference repo is HLL-only;
see SURVEY.md §2.4), so hashing is free to be fast: the Spark operator
computes ``xxhash64(col)`` JVM-side (codegen, 8 bytes/row across Arrow
instead of raw strings) and the kernels derive the per-row hash family
from that single 64-bit value with splitmix64 finalizer chains
(Steele, Lea & Flood, "Fast Splittable Pseudorandom Number Generators",
OOPSLA 2014 — public algorithm).
"""

from __future__ import annotations

import numpy as np

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (uint64 -> uint64, bijective)."""
    with np.errstate(over="ignore"):
        z = x + _SM_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        z = z ^ (z >> np.uint64(31))
    return z


def hash_family(h: np.ndarray, i: int) -> np.ndarray:
    """i-th independent 64-bit hash derived from a base hash vector."""
    with np.errstate(over="ignore"):
        return splitmix64(h ^ (np.uint64(i + 1) * _SM_GAMMA))


def to_u64(col: np.ndarray) -> np.ndarray:
    """int64 hashes (e.g. Spark xxhash64 output) viewed as uint64."""
    return np.ascontiguousarray(col).view(np.uint64)


# ---------------------------------------------------------------------------
# flat-buffer helpers for the vectorized grouped fold/merge paths: many
# sketch encodings are written into / parsed out of ONE uint8 buffer at
# arbitrary (unaligned) offsets with a constant number of vectorized
# byte-plane passes — zero per-group Python (the same machinery family as
# kernel/hll.py's flat opcode scanner).
# ---------------------------------------------------------------------------

def write_le_flat(data: np.ndarray, pos: np.ndarray, vals: np.ndarray, nbytes: int) -> None:
    """Scatter little-endian ``nbytes``-wide integers ``vals`` into
    ``data`` at byte positions ``pos`` (one value per position):
    ``nbytes`` vectorized byte-plane writes, alignment-free."""
    v = vals.astype(np.uint64, copy=False)
    for b in range(nbytes):
        data[pos + b] = ((v >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.uint8)


def read_le_flat(data: np.ndarray, pos: np.ndarray, nbytes: int) -> np.ndarray:
    """Gather little-endian ``nbytes``-wide unsigned integers from
    ``data`` at byte positions ``pos`` -> uint64 array."""
    out = np.zeros(len(pos), dtype=np.uint64)
    for b in range(nbytes):
        out |= data[pos + b].astype(np.uint64) << np.uint64(8 * b)
    return out


def segment_ranks(sorted_codes: np.ndarray) -> np.ndarray:
    """0-based rank of each element within its run of equal values
    (``sorted_codes`` must be non-decreasing)."""
    n = len(sorted_codes)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.empty(n, dtype=bool)
    starts[0] = True
    np.not_equal(sorted_codes[1:], sorted_codes[:-1], out=starts[1:])
    sidx = np.flatnonzero(starts)
    return np.arange(n, dtype=np.int64) - np.repeat(
        sidx, np.diff(np.append(sidx, n))
    )


def fold_rows_by_rank(
    ufunc: np.ufunc, out: np.ndarray, slots: np.ndarray, rows: np.ndarray
) -> None:
    """``out[slots[i]] = ufunc(out[slots[i]], rows[i])`` in place, for
    non-decreasing ``slots``, without ``ufunc.reduceat(rows, axis=0)``
    (10x+ slower on wide rows, NOTES.md). Rows are sorted once by rank in
    their slot; each step folds one contiguous slice into distinct slots,
    so the loop runs over the largest fan-in, not over slots."""
    rank = segment_ranks(slots)
    order = np.argsort(rank, kind="stable")
    for sel in np.split(order, np.cumsum(np.bincount(rank))[:-1]):
        s = slots[sel]
        out[s] = ufunc(out[s], rows[sel])


def flat_buffers(bufs: "list[bytes]") -> tuple[np.ndarray, np.ndarray]:
    """Concatenate wire buffers into the (data, int64 offsets) pair the
    flat kernels consume — the ONE definition of this little join+cumsum
    (previously re-implemented at four call sites; r5 review)."""
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offsets = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bufs], out=offsets[1:])
    return data, offsets


def gather_f8_runs(
    data: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Gather ``counts[i]`` little-endian float64s starting at byte
    ``starts[i]`` for each run -> one flat float64 array in run order.
    One byte-level fancy gather + view (alignment-free) — ~4x the
    8-byte-plane ``read_le_flat`` walk for contiguous item blocks, and
    the access pattern is sequential within each run (cache-friendly).
    """
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.float64)
    seg = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    rank = segment_ranks(seg)
    base = np.repeat(starts, counts) + 8 * rank
    idx = (base[:, None] + np.arange(8, dtype=np.int64)[None, :]).ravel()
    raw = np.ascontiguousarray(data[idx])
    return raw.view("<f8")


def gather_uniform_rows(data: np.ndarray, starts: np.ndarray, row_len: int) -> np.ndarray:
    """Gather equal-length byte windows ``[starts[i], starts[i]+row_len)``
    into an (n, row_len) uint8 matrix (one fancy-index gather)."""
    return data[starts[:, None] + np.arange(row_len, dtype=np.int64)[None, :]]


def probe_headers(
    data: np.ndarray, offsets: np.ndarray, magic: bytes, min_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared prologue of every kernel's non-raising header probe:
    ``(ok, hp, lens)`` where ``ok`` holds the magic + minimum-length
    verdict and ``hp`` is the out-of-bounds-safe header position per
    window (clamped for short trailing windows, which are already
    ``ok=False``). Callers must bail out when ``not ok.any()`` BEFORE
    reading header fields (the whole-buffer-too-short case returns
    zeroed ``hp`` that must not be dereferenced), then AND in their
    version/param/length checks."""
    n = len(offsets) - 1
    lens = np.diff(offsets)
    if len(data) < min_len:
        return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.int64), lens
    hp = np.minimum(offsets[:-1], len(data) - min_len)
    ok = lens >= min_len
    for i, byte in enumerate(magic):
        ok &= data[hp + i] == byte
    return ok, hp, lens


_POPCOUNT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1
).astype(np.int64)


def popcount_rows(mat: np.ndarray) -> np.ndarray:
    """Set-bit count per row of a uint8 matrix (LUT, no unpackbits blowup)."""
    return _POPCOUNT[mat].sum(axis=1)


def check_arrow_binary_size(nbytes: int) -> None:
    """Arrow binary arrays carry int32 offsets: one merge partition's
    sketch output must stay under 2GB — raise the actionable fix
    instead of silently wrapping offsets."""
    if nbytes > (1 << 31) - 1:
        raise ValueError(
            "merged sketch bytes exceed 2GB in one partition; raise "
            "spark.sql.shuffle.partitions"
        )
