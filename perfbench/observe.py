"""Observation from outside the program: spans around layer calls, Spark's
status-store counters per operation, and process-tree memory from /proc."""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index of the enclosing span
    op: int | None  # operation id shared by every span of one operation


@dataclass
class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


@dataclass
class StageRecord:
    submitted_ms: int
    tasks: int
    run_ms: int
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    spilled: int


def read_status_store(spark) -> tuple[list[int], list[StageRecord]]:  # noqa: ANN001
    """Job submission times (epoch ms) and every submitted stage from
    Spark's in-process status store; works with the UI disabled."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    job_times = []
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        if sub.isDefined():
            job_times.append(int(sub.get().getTime()))
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    records = []
    for i in range(stages.size()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():  # skipped stages never ran
            continue
        records.append(
            StageRecord(
                submitted_ms=int(sub.get().getTime()),
                tasks=int(s.numCompleteTasks()),
                run_ms=int(s.executorRunTime()),
                cpu_ns=int(s.executorCpuTime()),
                shuffle_write=int(s.shuffleWriteBytes()),
                shuffle_read=int(s.shuffleReadBytes()),
                spilled=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            )
        )
    return job_times, records


def window_counters(
    job_times: list[int], stages: list[StageRecord], start: float, end: float, cores: int
) -> dict[str, float]:
    """Counters of the jobs and stages submitted inside [start, end]
    (epoch seconds). Attribution is by submission time, not job group,
    because streaming micro-batches run on the stream's own thread."""
    lo, hi = start * 1000.0, end * 1000.0
    inside = [s for s in stages if lo <= s.submitted_ms <= hi]
    run_s = sum(s.run_ms for s in inside) / 1e3
    cpu_s = sum(s.cpu_ns for s in inside) / 1e9
    return {
        "jobs": float(sum(1 for t in job_times if lo <= t <= hi)),
        "stages": float(len(inside)),
        "tasks": float(sum(s.tasks for s in inside)),
        "executor_run_s": run_s,
        "executor_cpu_s": cpu_s,
        "jvm_blocked_s": max(run_s - cpu_s, 0.0),
        "shuffle_write_mb": sum(s.shuffle_write for s in inside) / 2**20,
        "shuffle_read_mb": sum(s.shuffle_read for s in inside) / 2**20,
        "spill_mb": sum(s.spilled for s in inside) / 2**20,
        "driver_overhead_s": max((end - start) - run_s / cores, 0.0),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver, JVM,
    Python workers), in MiB, from /proc."""
    kids = _children()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
