"""Measurement from outside the engine: spans, Spark job/stage counters and
process memory.

A :class:`Tracer` span wraps one call into a layer's public function. It
records name, layer, phase (``build`` = plan construction, ``exec`` =
execution), start, end, parent and pass id in memory, and tags every Spark
job the call fires with a job group of its own (``setJobGroup``), so the
job and stage counters of each span can be read back afterwards from
``statusTracker()`` and the AppStatusStore.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

#: Stage counters summed per span (AppStatusStore ``StageData`` fields).
COUNTERS = ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "tasks", "executor_run_s", "jvm_gc_s")


class Tracer:
    """In-memory span recorder for one Spark session."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, phase: str | None = None,
             **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "phase": phase or (parent["phase"] if parent else "exec"),
               "parent": parent["id"] if parent else None,
               "pass": self.pass_id, **attrs}
        rec["group"] = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, layer: str, phase: str | None = None,
             attrs=None):
        """``fn`` with each call inside a span; ``attrs(*args)`` adds
        fields to the span (e.g. the path a source reads)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, layer, phase, **extra):
                return fn(*args, **kwargs)
        return traced


@contextmanager
def patched(*targets):
    """Temporarily replace attributes: ``targets`` are
    ``(owner, attribute, replacement)`` triples."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end"])
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def span_counters(spark, spans: list[dict]) -> dict[int, dict]:
    """Span id -> ``{"jobs": n, <COUNTERS>...}`` over the jobs fired in the
    span itself (not its children): job ids come from ``statusTracker()``
    by job group, stage metrics from the AppStatusStore."""
    jsc = spark._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for s in spans:
        tot = dict.fromkeys(COUNTERS, 0)
        jobs = tracker.getJobIdsForGroup(s["group"])
        tot["jobs"] = len(jobs)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage, never stored
                continue
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
            tot["jvm_gc_s"] += st.jvmGcTime() / 1000.0
        out[s["id"]] = tot
    return out


def cached_bytes(spark) -> int:
    """Memory plus disk bytes of every cached RDD block."""
    infos = spark._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of peak resident memory (VmHWM) of every process started below
    ``pid`` (default: this one) — the driver JVM and its Python workers."""
    total_kb = 0
    for p in _descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping ``_``/``.`` metadata."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
