"""Host facts and process-tree accounting read from /proc.

The benchmark process is the root of the tree: the JVM is its child and
the Python UDF workers are the JVM's children.
"""

from __future__ import annotations

import os
import threading


def _stat(pid: str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(") ", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (not ``pid`` itself), from one
    scan of the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                kids.setdefault(int(_stat(p)[1]), []).append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    out: list[int] = []
    stack = list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _cpu_s(pid: int) -> float:
    try:
        parts = _stat(str(pid))
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by the JVM and its Python workers: every
    live descendant, including the children each one has reaped."""
    total = 0.0
    hz = os.sysconf("SC_CLK_TCK")
    for p in descendants(os.getpid()):
        try:
            f = _stat(str(p))
            total += sum(int(x) for x in f[11:15]) / hz
        except (OSError, IndexError, ValueError):
            pass
    return total


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the live Python processes under the JVM
    (the UDF workers); the driver process itself is not counted."""
    total = 0.0
    for p in descendants(os.getpid()):
        if _comm(p).startswith("python"):
            total += _cpu_s(p)
    return total


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {
        "steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK"),
        "nproc": os.cpu_count() or 1,
        "mem_gb": round(mem_kb / 2**20, 2),
        "loadavg": list(os.getloadavg()),
    }


class RssSampler:
    """Samples the summed RSS of the JVM and its Python workers (every
    descendant of this process) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        rss = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
