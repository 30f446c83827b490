"""Spans around the benchmark's calls into each layer, and the job, stage
and task counters Spark's status store holds for a job group.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; with ``enabled=False`` every method is
    a no-op apart from running the wrapped block."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None,
                 self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        """Record a span measured elsewhere, as a child of span ``parent``
        (default: the open span); returns its id."""
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs))
        return len(self.spans) - 1

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run_id": s.run_id, **s.attrs}) + "\n")


def cpu_seconds(pid: int) -> float:
    """CPU time (user + system) of process ``pid`` and all its live
    descendants, plus what their reaped children used. Unlike wall time,
    it does not count time the host's hypervisor gave to other guests."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(children.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


class StatusStore:
    """Reads Spark's status store (the data behind the Spark UI) through
    the driver JVM."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects every job that has already returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, groups: list[str]) -> dict[str, float]:
        """Job, stage and task totals over every job in ``groups``.
        Skipped stages (shuffle output reused) count for nothing."""
        store = self._jsc.statusStore()
        tot = dict.fromkeys(COUNTER_KEYS, 0.0)
        seen: set[int] = set()
        for group in groups:
            for jid in self.job_ids(group):
                tot["jobs"] += 1
                sids = store.job(jid).stageIds()
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = store.stageData(sid, False, None, False, None)
                    for k in range(attempts.size()):
                        sd = attempts.apply(k)
                        if sd.status().toString() != "COMPLETE":
                            continue
                        tot["stages"] += 1
                        tot["tasks"] += sd.numCompleteTasks()
                        tot["task_run_s"] += sd.executorRunTime() / 1e3
                        tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
                        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                        tot["spill_bytes"] += sd.diskBytesSpilled()
                        tot["input_bytes"] += sd.inputBytes()
        return tot
