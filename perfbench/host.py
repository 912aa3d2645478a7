"""What the benchmark reads from the host it runs on: memory sizing, run
annotations and the process-tree peak resident-memory sampler. This
module only reads ``/proc`` and starts no Spark work."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from pathlib import Path

MB = 1 << 20


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_available_mb() -> int | None:
    """``MemAvailable`` from ``/proc/meminfo`` in MiB, or None off-Linux."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        return None
    return None


class DoesNotFit(RuntimeError):
    """The workload's memory floor exceeds what the host can give it."""


def size_heap_mb(want_mb: int, floor_mb: int, reserve_mb: int) -> int:
    """Driver heap for a workload: ``want_mb``, shrunk on a tight host to
    half of what ``MemAvailable`` leaves after ``reserve_mb``, but never
    below ``floor_mb``.

    ``reserve_mb`` is what the run needs beside the heap (Python workers,
    JVM off-heap, the driver interpreter). Raises :class:`DoesNotFit` when
    ``floor_mb + reserve_mb`` exceeds ``MemAvailable``, before any JVM
    starts, so a run that cannot fit fails fast instead of swapping or
    being killed mid-measurement."""
    avail = mem_available_mb()
    if avail is None:
        return want_mb
    if floor_mb + reserve_mb > avail:
        raise DoesNotFit(
            f"needs {floor_mb} MiB heap + {reserve_mb} MiB beside it, "
            f"but MemAvailable is {avail} MiB"
        )
    return max(floor_mb, min(want_mb, (avail - reserve_mb) // 2))


def cpu_sample() -> tuple[int, int] | None:
    """(total jiffies, steal jiffies) from the aggregate ``cpu`` line of
    ``/proc/stat``; None off-Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before, after) -> float | None:
    """Hypervisor steal between two :func:`cpu_sample` readings, in %."""
    if before is None or after is None or after[0] <= before[0]:
        return None
    return 100.0 * (after[1] - before[1]) / (after[0] - before[0])


def load_average() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def git_commit(root: Path) -> str | None:
    """HEAD of the repository holding the benchmark, or None when the
    checkout is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared by several
    processes split between them. Falls back to RSS where
    ``smaps_rollup`` is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return _rss_bytes(pid)


def _resident_bytes(pid: int) -> int:
    """Resident memory of one process of the tree. Python processes report
    PSS, so the pages forked workers share with their daemon count once.
    The JVM shares next to nothing, and walking its multi-GB address space
    for PSS would stall it on every sample, so it reports RSS."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            is_jvm = f.read().strip() == "java"
    except OSError:
        return 0
    return _rss_bytes(pid) if is_jvm else _pss_bytes(pid)


def tree_pids(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants (driver interpreter, the JVM it
    launched, the JVM's Python workers)."""
    kids = _children_map()
    out, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def tree_resident_bytes(root_pid: int) -> int:
    """Summed resident memory (PSS) of :func:`tree_pids`."""
    return sum(_resident_bytes(pid) for pid in tree_pids(root_pid))


class PeakRss:
    """Background sampler of :func:`tree_resident_bytes` for this process.

    Use as a context manager; ``peak_mb`` holds the highest sample. The
    thread only reads ``/proc`` and never calls into Spark."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_resident_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB


def annotations(root: Path, seed: int, heap_mb: int, cpu_before) -> dict:
    """Run context that lets a noisy window be recognised: never a metric."""
    return {
        "nproc": nproc(),
        "heap_mb": heap_mb,
        "seed": seed,
        "git_commit": git_commit(root),
        "loadavg": load_average(),
        "steal_pct": steal_pct(cpu_before, cpu_sample()),
        "mem_available_mb": mem_available_mb(),
        "ts": time.time(),
    }
