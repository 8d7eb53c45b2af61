"""Host-window probes and the process-tree memory sampler.

The host is shared, so every run records the window it ran in: ambient
`/proc/loadavg` and the 80 MB first-touch page-fault probe (the same
probe `bench.py` records), before and after. They are recorded, never
gated on.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys
import time


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def fault_probe_ms() -> float:
    """Wall ms to first-touch one fresh 80 MB numpy allocation (bench.py's
    `_fault_probe_ms`): healthy hosts score tens of ms, a host-swap
    episode scores seconds while loadavg stays low."""
    import numpy as np

    t0 = time.perf_counter()
    np.arange(10_000_000, dtype=np.int64)
    return (time.perf_counter() - t0) * 1000.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def window() -> dict:
    steal, total = cpu_jiffies()
    return {"loadavg": loadavg(), "fault_ms": fault_probe_ms(),
            "steal_jiffies": steal, "total_jiffies": total}


def steal_frac(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    windows: on a shared host it slows every wall-clock metric."""
    total = after["total_jiffies"] - before["total_jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int, skip: int = -1) -> int:
    """Resident memory of `root` and its descendants but `skip`, as the sum
    of their PSS: pages a forked Python worker shares with its daemon count
    once, not once per worker as a plain RSS sum would."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid == skip:
            continue
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process exited between listing and reading
            pass
    return total


class RssSampler:
    """High-water resident memory of this process and all its descendants
    (driver JVM, Python workers) since `__enter__`, sampled every
    `period` seconds. The sampling runs in a child process (not counted),
    so scanning /proc never holds the GIL of the driver that feeds Spark."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(self.period)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        self._proc.stdin.close()  # the sampler exits at end of input
        try:
            self._proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()

    def peak_mb(self) -> float:
        self._proc.stdin.write("peak\n")
        self._proc.stdin.flush()
        return int(self._proc.stdout.readline()) / 2**20


def _sample(root: int, period: float) -> None:
    """Sampler child: answers each `peak` line on stdin with the high-water
    mark in bytes, and samples between them; exits when stdin closes."""
    me, peak = os.getpid(), 0
    while True:
        ready, _, _ = select.select([sys.stdin], [], [], period)
        if not ready:
            peak = max(peak, tree_rss_bytes(root, skip=me))
            continue
        if not sys.stdin.readline():
            return
        peak = max(peak, tree_rss_bytes(root, skip=me))
        sys.stdout.write(f"{peak}\n")
        sys.stdout.flush()


if __name__ == "__main__":
    _sample(int(sys.argv[1]), float(sys.argv[2]))
