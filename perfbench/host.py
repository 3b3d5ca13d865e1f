"""Host stamp, driver-heap sizing and process-tree RSS sampling."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import threading
import time

# results are comparable only when these stamp fields are equal
HOST_KEYS = ("cores", "mem_total_mb", "java", "pyspark", "python")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_mb: int) -> str:
    """A quarter of MemTotal, capped at 64g (the session default); local
    mode runs every task in the driver heap, and the Python workers and
    page cache need the rest."""
    return f"{max(1024, min(64 * 1024, total_mb // 4))}m"


def git_rev(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # not a repository (an enclosing one is not ours)
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha256 over the engine's sources: identifies the code measured even
    in a checkout that is not a git repository."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "liblognorm_spark", "**", "*.py"),
                             recursive=True))
    for p in files + [os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def stamp(root: str) -> dict:
    import platform

    import pyspark

    return {
        "cores": cores(),
        "mem_total_mb": mem_total_mb(),
        "load_start": list(os.getloadavg()),
        "git_rev": git_rev(root),
        "source_sha256": source_digest(root),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def comparable(a: dict, b: dict) -> list[str]:
    """The host-stamp fields on which two results differ."""
    return [k for k in HOST_KEYS if a.get(k) != b.get(k)]


def tree_rss_bytes(root_pid: int) -> int:
    """RSS summed over ``root_pid`` and its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak RSS of this process and everything it started (the driver JVM
    and its Python workers), sampled from /proc.  :meth:`window` restarts
    the peak, so a caller can take one peak per timed job."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def window(self) -> int:
        """The peak since the last call (or since the start)."""
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            peak, self.peak = max(self.peak, rss), rss
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False
