"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each call into a layer
(session, api, operators, caching). Each span has a name, start, end,
parent and op id; the Spark jobs an op ran are read back from Spark's
own status store and attached as child spans named ``spark.job``.
Spans stay in memory and are written once, at exit.

Time spent inside the recorder itself (job-group bookkeeping, waiting
for the listener bus, status-store reads) is accumulated in
``overhead_s`` so the traced run can report its own cost.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


def _now_ms() -> float:
    return time.time_ns() / 1e6


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


@dataclass
class JobInfo:
    start_ms: float
    end_ms: float
    tasks: int
    shuffle_kb: float


class Recorder:
    """In-memory spans plus Spark job reads, for one benchmark process."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.spark = None  # set by the workload once its session is up
        self._group_seq = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, _now_ms(), parent=parent, op=op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end_ms = _now_ms()
            self._stack.pop()

    # ---------------------------------------------------- spark jobs --

    @contextlib.contextmanager
    def jobs(self, name: str, op: int | None = None, **attrs):
        """A span whose Spark jobs are tagged with a fresh job group and
        attached as children when it ends. Yields the span; after the
        block, ``span.attrs['jobs']`` holds the JobInfo list."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        sc.setJobGroup(group, name, False)
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(name, op=op, **attrs) as s:
                yield s
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            infos = self._read_jobs(group)
            s.attrs["jobs"] = infos
            idx = self.spans.index(s)
            for j in infos:
                self.spans.append(Span(
                    "spark.job", j.start_ms, j.end_ms, parent=idx, op=s.op,
                    attrs={"tasks": j.tasks, "shuffle_kb": j.shuffle_kb},
                ))
            self.overhead_s += time.perf_counter() - t0

    def _read_jobs(self, group: str) -> list[JobInfo]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # Job-end events reach the status store through the async
        # listener bus; drain it so every job of the group is complete.
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            shuffle = 0
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # skipped stage: never attempted
                    continue
                shuffle += st.shuffleWriteBytes()
            out.append(JobInfo(
                float(sub.get().getTime()), float(done.get().getTime()),
                int(jd.numCompletedTasks()), shuffle / 1024.0,
            ))
        return out

    # ---------------------------------------------------- reductions --

    @staticmethod
    def covered_ms(span: Span, jobs: list[JobInfo]) -> float:
        """Wall time inside ``span`` during which at least one of
        ``jobs`` was running (the union of the clipped intervals)."""
        iv = sorted(
            (max(j.start_ms, span.start_ms), min(j.end_ms, span.end_ms))
            for j in jobs
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time (ms) per layer, where a layer is the first dotted
        component of a span name: a span's duration minus the part of
        it that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            kids = [JobInfo(c.start_ms, c.end_ms, 0, 0) for c in children.get(i, [])]
            own = s.ms - self.covered_ms(s, kids)
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + own
        return {k: round(v, 3) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            attrs = {
                k: (len(v) if k == "jobs" else v) for k, v in s.attrs.items()
            }
            rows.append({
                "id": i, "name": s.name, "start_ms": s.start_ms,
                "end_ms": s.end_ms, "parent": s.parent, "op": s.op,
                "attrs": attrs,
            })
        with open(path, "w") as f:
            json.dump({"spans": rows}, f)
