"""In-memory spans around the benchmark's calls into the package.

A span records (name, layer, start, end, parent, op id) plus the number of
Spark jobs that ran inside it. Jobs are counted exactly from outside the
program: every span sets its own Spark job group, and on exit the span
waits for the listener bus to drain and asks the status tracker for the
group's job ids. Spans are kept in a list and written out once, at exit.

With tracing off, ``span`` only times the call: no job groups, no
listener-bus waits, no records.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        #: operation id stamped on new spans; callers set it per operation
        self.op = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = spark

    def _jobs_in(self, group: str) -> int:
        sc = self._spark.sparkContext
        # the status store is fed asynchronously by the listener bus:
        # drain it so every job the call submitted is visible
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def _set_group(self, group: str | None) -> None:
        sc = self._spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        """Time the block and yield its Span (``dur`` is set on exit);
        when tracing, also record it and count its Spark jobs."""
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            layer=name.split(".", 1)[0],
            op=self.op,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        self._set_group(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"perfbench-{parent.id}" if parent else None)
            s.jobs = self._jobs_in(group) + sum(
                c.jobs for c in self.spans if c.parent == s.id
            )

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        that its child spans cover, summed by layer."""
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(c.start, c.end) for c in self.spans if c.parent == s.id])
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=0)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
