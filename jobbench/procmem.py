"""Process memory and CPU from /proc (no psutil): find the pyspark worker
processes that descend from this process, sample their summed RSS on a
background thread, and read the CPU time a set of processes used."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return int(f.read().rsplit(b")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def _is_descendant(pid: int, root: int, parents: dict[int, int | None]) -> bool:
    seen = 0
    while pid and pid != 1 and seen < 64:
        if pid == root:
            return True
        if pid not in parents:
            parents[pid] = _ppid(pid)
        pid = parents[pid] or 0
        seen += 1
    return False


def worker_pids(root: int | None = None) -> list[int]:
    """PIDs of pyspark daemon/worker processes under `root` (default: us)."""
    root = root or os.getpid()
    parents: dict[int, int | None] = {}
    out = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            cmd = (d / "cmdline").read_bytes()
        except OSError:
            continue
        if any(m in cmd for m in _WORKER_MARKERS) and \
                _is_descendant(int(d.name), root, parents):
            out.append(int(d.name))
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size of one process (VmRSS), 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """User + system CPU time of one process and all its threads, 0 if it
    has exited. The kernel leaves time stolen by the hypervisor out."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_snapshot(pids) -> dict[int, float]:
    return {p: cpu_seconds(p) for p in pids}


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the processes in `after` used since `before` (a process
    missing from `before` started in between and counts in full)."""
    return sum(v - before.get(p, 0.0) for p, v in after.items())


def steal_seconds() -> float:
    """Time the hypervisor ran other guests on this machine's vCPUs,
    summed over vCPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


PERIOD_S = 0.05     # RSS sample period
RESCAN_EVERY = 10   # samples between full /proc scans for new workers


class RssSampler:
    """Samples summed worker RSS every PERIOD_S while active; keeps the
    peak and every worker PID it saw (so shutdown can wait for them).
    Workers are long-lived, and a full /proc scan costs far more than
    reading the known workers' status files, so the scan runs every
    RESCAN_EVERY samples."""

    def __init__(self):
        self.peak_bytes = 0
        self.samples = 0
        self.seen: set[int] = set()
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._root = os.getpid()

    def sample(self) -> int:
        if self.samples % RESCAN_EVERY == 0:
            self._pids = worker_pids(self._root)
            self.seen.update(self._pids)
        total = sum(rss_bytes(p) for p in self._pids)
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1
        return total

    def _loop(self) -> None:
        while not self._stop.wait(PERIOD_S):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
