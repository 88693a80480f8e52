"""Spans and counts recorded by the benchmark around its calls into the
program's layers.

Every timed call goes through :meth:`Tracer.span`, traced or not, because
the span's wall time is also the end-to-end measurement. Tracing adds only
this: a Spark job group is set around each span so its jobs can be found
afterwards, and at the end of the run each group's stage metrics are read
from the status store. Spans stay in memory and are written out once.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run_id: str = ""
    groups: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans (name, start, end, parent, run id) and counts for one run.

    With ``enabled`` false the spans still time the calls, but no job
    group is set and no stage metrics are read."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # set once the session is up
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0  # time spent setting job groups, inside the spans
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sp = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            id=len(self.spans),
            run_id=self.run_id,
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.enabled and self.sc is not None:
            t = time.perf_counter()
            group = f"{self.run_id}/{sp.id}/{name}"
            self.sc.setJobGroup(group, name)
            sp.groups.append(group)
            self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None and parent.groups:
                    self.sc.setJobGroup(parent.groups[0], parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - sp.end

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        kids = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == sp.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.seconds - covered

    def stage_metrics(self, sp: Span) -> dict:
        """Jobs, executor CPU seconds and shuffle bytes of the stages run
        under the span's job groups, from the status store. Stages are
        looked up one at a time (``stageList`` needs its 5-argument form on
        Spark 4.1)."""
        from py4j.protocol import Py4JJavaError

        out = {"jobs": 0, "cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        if not (self.enabled and self.sc is not None):
            return out
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages: set[int] = set()
        for g in sp.groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: its shuffle output was reused
                continue
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def dump(self, path, extra: dict | None = None) -> None:
        """Write every span, with its self time, and the counts."""
        spans = []
        for sp in self.spans:
            d = asdict(sp)
            d["self_s"] = self.self_seconds(sp)
            spans.append(d)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, "counts": self.counts, **(extra or {})}, f)
