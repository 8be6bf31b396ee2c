"""Host-side measurements read from ``/proc``: peak resident memory of
the Python process and the Spark JVM (the kernel's high-water marks),
sampled peaks of the whole process tree and of the Python workers, CPU
steal and the CPU used by other processes while the run lasted. Steal and
other processes' CPU are recorded, never used to gate or retry a run."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int) -> list[str]:
    """``root`` and every descendant alive now."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _hwm_bytes(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_jiffies(root: int) -> int:
    """utime + stime of the live tree plus the reaped children of each
    member, so exited Python workers still count."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostMonitor:
    """Samples the tree's RSS on a background thread; ``stop`` returns
    the run's host record."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self._root = os.getpid()
        self._interval = interval_s
        self._stop = threading.Event()
        self._tree_peak = self._workers_peak = 0
        self._cpu0 = _cpu_line()
        self._own0 = tree_cpu_jiffies(self._root)
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        root = str(self._root)
        while not self._stop.is_set():
            rss = {pid: _rss_bytes(pid) for pid in tree_pids(self._root)}
            workers = sum(v for pid, v in rss.items() if pid != root and _comm(pid) != "java")
            self._tree_peak = max(self._tree_peak, sum(rss.values()))
            self._workers_peak = max(self._workers_peak, workers)
            self._stop.wait(self._interval)

    def peak_rss_mb(self) -> float:
        """High-water RSS of this Python process plus that of the JVM. Python
        workers come and go between samples, so they are reported apart."""
        pids = [str(self._root)] + [
            pid for pid in tree_pids(self._root) if _comm(pid) == "java"
        ]
        return sum(_hwm_bytes(pid) for pid in pids) / 2**20

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        cpu1 = _cpu_line()
        own = tree_cpu_jiffies(self._root) - self._own0
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = max(1, sum(d[:8]))  # user..steal; guest is inside user
        busy = total - d[3] - d[4]  # minus idle and iowait
        return {
            "peak_rss_mb": self.peak_rss_mb(),
            "tree_peak_rss_mb_sampled": self._tree_peak / 2**20,
            "workers_peak_rss_mb_sampled": self._workers_peak / 2**20,
            "steal_frac": d[7] / total if len(d) > 7 else 0.0,
            "others_cpu_s": max(0, busy - d[7] - own) / _HZ,
            "own_cpu_s": own / _HZ,
            "cpus": len(os.sched_getaffinity(0)),
        }
