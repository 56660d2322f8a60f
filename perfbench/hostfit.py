"""Host facts the benchmark sizes itself from, and the peak-RSS sampler.

Everything here reads ``/proc`` or ``os``; nothing is hardcoded to one
machine. The session runs ``local[nproc]`` (a one-core figure comes from a
single task), the driver heap comes from ``MemTotal``, and a run refuses to
start when its input will not fit the free disk.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (the affinity mask, as ``nproc``)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def check_level(level: int) -> int:
    """Refuse a ``local[N]`` level outside 1..nproc instead of silently
    oversubscribing the host."""
    if not 1 <= level <= nproc():
        raise ValueError(f"local[{level}] is outside 1..{nproc()} on this host")
    return level


def driver_heap_mb() -> int:
    """An eighth of MemTotal, within 1-8 GiB: the driver JVM shares the
    host with its Python workers and the page cache the parquet stages
    lean on, and the benchmark's inputs are small."""
    return max(1024, min(8192, mem_total_mb() // 8))


def require_disk(path: str, need_mb: int) -> None:
    """Fail loudly before generating input that will not fit."""
    free_mb = shutil.disk_usage(path).free // (1 << 20)
    if free_mb < need_mb:
        raise RuntimeError(
            f"{path}: {free_mb} MB free, the sized workload needs {need_mb} MB"
        )


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes sharing it. Plain RSS would count the JVM twice
    for every instant a fork of it (a worker launch, a Hadoop ``chmod``)
    exists before it execs."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root_pid: int) -> float:
    """Summed resident memory (as PSS) of every process below
    ``root_pid``: the driver JVM the benchmark launched and the Python
    workers the JVM forks."""
    kids = _children()
    total, stack = 0, list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, []))
    return total / 1024


class RssSampler:
    """One thread that samples :func:`descendants_rss_mb` and keeps the
    peak. ``reset`` starts a new window so set-up does not leak into the
    timed job's peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self._root = root_pid
        self._interval = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = descendants_rss_mb(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stamp(root: str) -> dict:
    """Host context for a result file; loadavg is taken again at the end."""
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "loadavg_start": loadavg(),
        "git_sha": git_sha(root),
        "started_unix": time.time(),
    }
