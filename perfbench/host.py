"""Host fingerprint, CPU steal and process-tree memory, read from /proc.

Results are comparable only between runs on the same host, so every
result carries the fingerprint of the machine it was taken on.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class Steal:
    """CPU steal share over the windows between ``start`` and ``stop``."""

    def __init__(self):
        self.steal = 0
        self.total = 0
        self._t0: list[int] | None = None

    def start(self) -> None:
        self._t0 = _cpu_times()

    def stop(self) -> None:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        self.steal += d[7] if len(d) > 7 else 0
        self.total += sum(d[:8])

    @property
    def pct(self) -> float:
        return 100.0 * self.steal / self.total if self.total else 0.0


def fingerprint(root: str, spark) -> dict:
    """nproc, RAM, versions and the code identity of the checkout."""
    # the ceiling keeps git from reading a repository above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                             capture_output=True, text=True, timeout=10,
                             check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(root, "cqi_engine")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {
        "nproc": cpu_count(),
        "ram_mb": round(_meminfo_mb()),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": sha,
        "engine_sha256": h.hexdigest()[:16],
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children",
                      encoding="ascii") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, out = _children(pid), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled every 0.2 s while ``active`` is set.
    Walking the process tree reads one file per JVM thread, so sampling
    faster would itself load the host."""

    def __init__(self):
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.active.wait(0.2):
                rss = sum(_rss_mb(p) for p in descendants(me))
                self.peak_mb = max(self.peak_mb, rss)
                time.sleep(0.2)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
