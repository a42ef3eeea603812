"""Host context recorded beside each run (not metrics): core count,
load, CPU steal, a fixed CPU canary. And the process readings the
metrics use: wall and CPU time of the steps of an operation, and peak
resident memory."""

from __future__ import annotations

import hashlib
import os
import resource
import time
from pathlib import Path

_CANARY_BUF = bytes(range(256)) * 16384  # 4 MiB


def canary_s() -> float:
    """Wall time of a fixed pure-CPU computation (sha256 over 32 MiB).
    It touches no engine code, so it moves only with host contention."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(8):
        h.update(_CANARY_BUF)
    h.digest()
    return time.perf_counter() - t0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostProbe:
    """Samples load1 and the CPU steal share over a run, plus canaries."""

    def __init__(self) -> None:
        self.nproc = os.cpu_count() or 1
        self.load1_start = os.getloadavg()[0]
        self._cpu0 = _cpu_times()
        self.canaries: list[float] = []

    def canary(self) -> None:
        self.canaries.append(canary_s())

    def summary(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        can = sorted(self.canaries)
        return {
            "nproc": self.nproc,
            "load1_start": round(self.load1_start, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "steal_share": round(steal / total, 4),
            "canary_s": {
                "n": len(can),
                "min": round(can[0], 4) if can else None,
                "median": round(can[len(can) // 2], 4) if can else None,
                "max": round(can[-1], 4) if can else None,
            },
        }


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str) -> float:
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * _TICK_S  # utime, stime


def jit_threads(pid: int) -> list[str]:
    """``/proc`` stat paths of a JVM's JIT compiler threads."""
    return [
        str(d / "stat")
        for d in Path(f"/proc/{pid}/task").iterdir()
        if (d / "comm").read_text().startswith(("C1 CompilerThre", "C2 CompilerThre"))
    ]


def cpu_s(pids: list[int | str], skip: list[str] = ()) -> float:
    """CPU seconds (user + system, all threads) the processes have run
    so far, less the threads whose ``/proc`` stat paths are in ``skip``.
    The kernel leaves time stolen from the virtual CPUs out of these
    counts, so unlike wall time they do not grow when co-tenants of a
    shared host take the cores."""
    total = 0.0
    for pid in pids:
        total += time.process_time() if pid == "self" else _stat_cpu_s(f"/proc/{pid}/stat")
    return total - sum(_stat_cpu_s(p) for p in skip)


class StepClock:
    """Wall and CPU seconds of the steps of one operation.

    ``start`` begins an operation, ``add`` charges the time since a
    reading to a named step, and ``finish`` charges what no step took
    to ``rest`` and returns the operation's (wall, cpu) step dicts."""

    def __init__(self, pids: list[int | str], skip: list[str] = ()):
        self.pids = pids
        self.skip = skip
        self.wall: dict = {}
        self.cpu: dict = {}

    def now(self) -> tuple[float, float]:
        return time.perf_counter(), cpu_s(self.pids, self.skip)

    def start(self) -> tuple[float, float]:
        self.wall, self.cpu = {}, {}
        return self.now()

    def add(self, key, since: tuple[float, float]) -> None:
        t, c = self.now()
        self.wall[key] = self.wall.get(key, 0.0) + t - since[0]
        self.cpu[key] = self.cpu.get(key, 0.0) + c - since[1]

    def finish(self, since: tuple[float, float]) -> tuple[dict, dict]:
        t, c = self.now()
        self.wall["rest"] = t - since[0] - sum(self.wall.values())
        self.cpu["rest"] = c - since[1] - sum(self.cpu.values())
        return self.wall, self.cpu


def _status_kib(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(pids: list[int | str]) -> None:
    """Reset each process's resident-memory high-water mark (VmHWM) so
    the next reading covers only what follows. Writing ``5`` to
    ``clear_refs`` is the kernel's interface for this; where it is
    refused the reading stays the lifetime peak."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mib(pids: list[int | str]) -> float:
    """Sum of the processes' resident-memory high-water marks, MiB."""
    total_kib = 0
    for pid in pids:
        try:
            total_kib += _status_kib(pid, "VmHWM")
        except OSError:
            if pid == "self":
                total_kib += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return total_kib / 1024.0
