"""Span tracer for the benchmark, recorded around calls into the engine.

A span is (name, start, end, parent, op id).  Spans live in memory and
are written out as JSON lines when the run ends.  Each span gets its own
Spark job group, so after the run the exact jobs, tasks, rows read and
bytes written under a span can be counted through ``setJobGroup`` and
the status tracker.  Micro-batches of a streaming query run in the
query's own group (its run id); ``Tracer.adopt_group`` attaches that
group to the span that ran the query.

The tracer's own time inside ops is accumulated, so a traced run reports
what share of its op time the tracing cost (``overhead_s``).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    input_rows: int = 0
    output_bytes: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and checksum files skipped."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op so
    the timed runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int, dirs: tuple[str, ...] = ()):
        """Time the block as span ``name`` of op ``op``; on exit record the
        bytes and data files under each of ``dirs``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, parent, 0.0)
        idx = len(self.spans)
        sp.groups.append(f"span{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(f"span{idx}", name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span{parent}", self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.attrs["dirs"] = {os.path.basename(d): dir_usage(d) for d in dirs}
            self.overhead_s += time.perf_counter() - t1

    def adopt_group(self, sp: Span | None, group: str) -> None:
        if sp is not None:
            sp.groups.append(group)

    def measure(self, fn):
        """Run a bookkeeping call and charge its time to the tracer."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.overhead_s += time.perf_counter() - t0

    def resolve_counts(self) -> None:
        """Fill jobs/tasks/rows/bytes of every span from its job groups.
        Runs once after the timed loop, when the listener bus has drained."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            for g in sp.groups:
                for jid in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    sp.jobs += 1
                    for sid in info.stageIds:
                        stage = tracker.getStageInfo(sid)
                        if stage is None or stage.numCompletedTasks == 0:
                            continue  # skipped: its shuffle output was reused
                        sp.tasks += stage.numCompletedTasks
                        data = store.lastStageAttempt(sid)
                        sp.input_rows += data.inputRecords()
                        sp.output_bytes += data.outputBytes()

    def subtree(self, idx: int) -> list[Span]:
        """The span and all spans nested under it."""
        out, frontier = [], {idx}
        for i, sp in enumerate(self.spans):
            if i in frontier or sp.parent in frontier:
                frontier.add(i)
                out.append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                rec = asdict(sp)
                rec["id"] = i
                fh.write(json.dumps(rec, default=str) + "\n")
