"""Process-tree resource probes and host disclosure.

The tree is this Python driver plus every descendant: the Spark JVM it
launches and the Python workers that JVM forks. CPU and RSS come from
``/proc``, so the probes see the workers without any help from Spark.
The benchmark generates its inputs in a separate process that exits
before any query runs, so the driver's memory here is the library's
planning and the collected results, not the input generation.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RssSampler reads the tree's RSS this often while a query runs
RSS_INTERVAL_S = 0.1


def _stat(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # process ended between listdir and read
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process, then all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(entry)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a finished worker's time lands in its parent's cutime/cstime)."""
    total = 0
    for pid in tree_pids():
        st = _stat(str(pid))
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    """Summed RSS of ``pids``; a process that has ended counts 0."""
    total = 0
    for pid in pids:
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / (1 << 20)


def rss_breakdown() -> dict[str, float]:
    """The tree's RSS split into this driver, the JVM and the Python
    processes below it (the worker daemon and its workers)."""
    out = {"driver_mb": 0.0, "jvm_mb": 0.0, "python_mb": 0.0, "python_procs": 0}
    me = os.getpid()
    for pid in tree_pids():
        rss = rss_mb([pid])
        if pid == me:
            out["driver_mb"] += rss
        elif _comm(pid) == "java":
            out["jvm_mb"] += rss
        else:
            out["python_mb"] += rss
            out["python_procs"] += 1
    return out


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return ""


def _alive(pid: int) -> bool:
    st = _stat(str(pid))
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives the timeout."""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class RssSampler:
    """Background thread sampling the summed RSS of the tree (this driver
    included) while a query runs.

    ``mark`` finds the tree once, between queries; until the next mark the
    thread reads only those PIDs' ``statm`` (a Python worker forked in
    mid-query is seen from the next mark on). ``mark`` returns the peak
    since the previous mark and the CPU seconds the thread spent since
    then, which the caller subtracts from the tree's CPU time."""

    def __init__(self):
        self._pids: list[int] = []
        self._peak = 0.0
        self._cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            with self._lock:
                self._peak = max(self._peak, rss_mb(self._pids))
                self._cpu_s += time.thread_time() - t
            self._stop.wait(RSS_INTERVAL_S)

    def mark(self) -> tuple[float, float]:
        pids = tree_pids()
        rss = rss_mb(pids)
        with self._lock:
            peak, self._peak = max(self._peak, rss), rss
            cpu_s, self._cpu_s = self._cpu_s, 0.0
            self._pids = pids
        return peak, cpu_s

    def __enter__(self) -> "RssSampler":
        self.mark()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def source_digest(root: Path) -> str:
    """sha256 over the library sources: identifies the code measured when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((root / "pfutil_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def commit_sha(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None  # an exported checkout: source_digest identifies it
    try:
        r = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def host_info(spark, root: Path, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "commit": commit_sha(root),
        "source_sha256": source_digest(root),
        "seed": seed,
    }
