"""Host facts, heap sizing and a /proc process-tree sampler.

``psutil`` is not available, so CPU time and resident memory of the
benchmark process and every descendant (the Spark JVM and its Python
workers) are read straight from ``/proc``.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

# Driver heap as a share of physical memory. Local mode runs the
# executors inside the driver JVM, and AlwaysPreTouch commits the whole
# heap at start, so the share has to leave room for the Python workers,
# the page cache and other tenants of the host.
HEAP_SHARE = 0.2
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 24 * 1024


def phys_mem_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * PAGE // (1 << 20)


def heap_mb(phys_mb: int | None = None) -> int:
    """Driver heap in MB: HEAP_SHARE of physical memory, clamped, in
    256 MB steps."""
    phys = phys_mem_mb() if phys_mb is None else phys_mb
    mb = int(phys * HEAP_SHARE) // 256 * 256
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which ``pid`` (default: this process) started."""
    with open(f"/proc/{pid or os.getpid()}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])   # field 22 of stat; 20 after ") "
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / CLK_TCK)


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # after ") ": state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    # ... rss(21)
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21])


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, RSS MB) summed over ``root``'s process tree. CPU
    includes the reaped children of every live member."""
    cpu = rss = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            cpu += st[1]
            rss += st[2]
    return cpu / CLK_TCK, rss * PAGE / (1 << 20)


class PeakRss:
    """Background sampler of the process tree's peak resident set
    between ``start()`` and ``stop()``. A scan of /proc holds the
    interpreter lock for milliseconds, and the driver's own Python work
    competes for it, so the period is long; with the heap pre-touched
    at start the resident set moves slowly."""

    def __init__(self, root: int | None = None, period_s: float = 1.0):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_usage(self.root)[1])

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak_mb


def _git_head(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources, for checkouts that are
    not git repositories."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "promptner_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_facts(root: str) -> dict:
    """What a reader needs to place a run: core count, memory, library
    versions and the source version."""
    import pyarrow
    import pyspark

    commit = "unknown"
    if os.path.exists(os.path.join(root, ".git")):
        commit = _git_head(root)
    return {
        "source_sha256": source_digest(root),
        "nproc": os.cpu_count(),
        "mem_mb": phys_mem_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
    }
