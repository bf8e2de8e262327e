"""Host and process readings taken from /proc: CPU steal, load, a fixed
calibration loop, and the resident memory of the benchmark's process tree."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds of CPU stolen from this host's vCPUs since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def load1() -> float:
    return os.getloadavg()[0]


def calib_s(n: int = 300_000) -> float:
    """Wall time of a fixed pure-Python loop: a probe of host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFF
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident MB of ``root``'s process tree, split into the driver (root
    itself), the JVM and the Python workers (python processes below it)."""
    parts = {"driver": _rss_mb(root), "jvm": 0.0, "workers": 0.0}
    stack = _children(root)
    while stack:
        pid = stack.pop()
        comm = _comm(pid)
        if comm == "java":
            parts["jvm"] += _rss_mb(pid)
        elif comm.startswith("python"):
            parts["workers"] += _rss_mb(pid)
        stack.extend(_children(pid))
    return parts


class RssSampler:
    """Background sampler of the process tree's resident memory; keeps the
    peak of the total and of each part."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.sample(root)
            self._stop.wait(self.interval_s)

    def sample(self, root: int) -> None:
        parts = tree_rss_mb(root)
        parts["total"] = sum(parts.values())
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample(os.getpid())
