"""Outside-in tracing for the traced run.

The engine is not edited: :class:`Tracer` wraps the public entry points
that run Spark actions in this process only, and restores them on
:meth:`Tracer.uninstall`. Each span records its name, start, end, parent
and the wave (or round) it belongs to. Its jobs run under a job group the
tracer sets with ``setJobGroup`` (the parent's group is restored on exit),
so ``statusTracker`` attributes jobs, tasks and failed tasks to the
innermost span. A poller thread samples ``getActiveStageIds``; the time a
span spends with no stage active is its serial (driver-side) time.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from pyspark import SparkContext

# (module, class, method) of every wrapped entry point -> span name
ENTRY_POINTS = [
    ("kermit_spark.crawler", "Crawler", "run_wave", "crawler.run_wave"),
    ("kermit_spark.frontier", "Frontier", "commit_wave", "frontier.commit_wave"),
    ("kermit_spark.frontier", "Frontier", "schedule", "frontier.schedule"),
    ("kermit_spark.frontier", "Frontier", "flush_bloom", "frontier.flush_bloom"),
    ("kermit_spark.catalog", "SnapshotCatalog", "create", "catalog.create"),
    ("kermit_spark.catalog", "SnapshotCatalog", "overwrite_partitions", "catalog.overwrite_partitions"),
    ("kermit_spark.catalog", "SnapshotCatalog", "merge_write", "catalog.merge_write"),
]

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class StagePoller:
    """Samples whether any Spark stage is active and keeps the busy
    intervals, so serial time over any window can be computed later."""

    def __init__(self, sc: SparkContext, interval_s: float = 0.05):
        self.sc = sc
        self.interval_s = interval_s
        self.busy: list[tuple[float, float]] = []
        self._since: float | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="stage-poller", daemon=True)

    def _run(self) -> None:
        tracker = self.sc.statusTracker()
        while not self._stop.is_set():
            now = time.time()
            active = bool(tracker.getActiveStageIds())
            if active and self._since is None:
                self._since = now
            elif not active and self._since is not None:
                self.busy.append((self._since, now))
                self._since = None
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._since is not None:
            self.busy.append((self._since, time.time()))
            self._since = None

    def serial_s(self, start: float, end: float) -> float:
        """Time in [start, end] during which no stage was active."""
        covered = sum(
            max(0.0, min(end, b) - max(start, a)) for a, b in self.busy if b > start and a < end
        )
        return max(0.0, (end - start) - covered)


class Tracer:
    """Span recorder. Spans are held in memory; :meth:`dump` returns them."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.spans: list[dict] = []
        self.wave: int | str | None = "setup"
        self.poller = StagePoller(sc)
        self._stack: list[dict] = []
        self._next_id = 0
        self._originals: list[tuple[type, str, object]] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sc = self.sc
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "wave": self.wave,
            "start": time.time(),
        }
        saved = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        group = f"perfbench-span-{sid}"
        sc.setJobGroup(group, f"{name} (wave {self.wave})")
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            for k, v in zip(_GROUP_KEYS, saved):
                sc.setLocalProperty(k, v)
            self._attribute_jobs(rec, group)
            self.spans.append(rec)

    def _attribute_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                si = tracker.getStageInfo(st)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        rec["jobs"] = jobs
        rec["tasks"] = tasks
        rec["failed_tasks"] = failed

    # -- entry-point wrapping ----------------------------------------------

    def install(self) -> None:
        import importlib

        for module, cls_name, method, span_name in ENTRY_POINTS:
            cls = getattr(importlib.import_module(module), cls_name)
            orig = cls.__dict__[method]
            self._originals.append((cls, method, orig))
            setattr(cls, method, self._wrap(orig, span_name))
        self.poller.start()

    def uninstall(self) -> None:
        self.poller.stop()
        for cls, method, orig in reversed(self._originals):
            setattr(cls, method, orig)
        self._originals.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    # -- derived figures -----------------------------------------------------

    def dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def serial_s(self, rec: dict) -> float:
        return self.poller.serial_s(rec["start"], rec["end"])

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_s(self, rec: dict) -> float:
        return self.dur(rec) - sum(self.dur(c) for c in self.children(rec))

    def totals(self, rec: dict) -> tuple[int, int, int]:
        """(jobs, tasks, failed tasks) of a span and all its descendants."""
        tree = self.subtree(rec)
        return (
            sum(len(s["jobs"]) for s in tree),
            sum(s["tasks"] for s in tree),
            sum(s["failed_tasks"] for s in tree),
        )

    def find(self, name: str, wave=None, within: dict | None = None) -> list[dict]:
        pool = self.subtree(within) if within is not None else self.spans
        return [
            s for s in pool
            if s["name"] == name and (wave is None or s["wave"] == wave)
        ]

    def dump(self) -> list[dict]:
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            row = dict(s)
            row["serial_s"] = self.serial_s(s)
            out.append(row)
        return out
