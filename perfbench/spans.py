"""Span recorder and per-span Spark counters for the traced run.

A span wraps one public call into the library. Spans stay in memory
(name, start, end, parent, operation id) and are written out once, when
the run ends. Each span runs under its own Spark job group, so the jobs it
launched can be read back from the status store right after it closes —
the store retains only ``spark.ui.retainedStages`` stages, so it is read
per span, never once at the end.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# counters every span reports; spans with no Spark work report zeros
SPAN_COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_bytes")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: str  # cycle, run or epoch the span belongs to
    counters: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)  # [(submit_s, end_s)]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class NullTracer:
    """Untraced runs: spans cost nothing and stage outputs stay lazy."""

    traced = False
    op_id = ""

    @contextmanager
    def span(self, name: str):
        yield

    def force(self, df):
        return df

    def pin(self, df):
        return df.localCheckpoint(eager=False)


class Tracer:
    """Traced runs: one job group per span, counters read at span end."""

    traced = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group = f"perfbench-{uuid.uuid4().hex[:12]}"  # unique per tracer
        self.op_id = ""

    def force(self, df):
        """Materialize a stage's output inside the current span, so the span
        holds that stage's work instead of a lazy plan."""
        return df.localCheckpoint(eager=True)

    pin = force  # pipeline seams: lazily pinned untraced, eagerly traced

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        group = f"{self._group}-{idx}"
        self.sc.setJobGroup(group, name, False)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                up = self._stack[-1]
                self.sc.setJobGroup(f"{self._group}-{up}", self.spans[up].name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._read_counters(idx, group)

    def _read_counters(self, idx: int, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store reflects every job
        store = jsc.statusStore()
        span = self.spans[idx]
        c = dict.fromkeys(SPAN_COUNTERS[2:], 0)
        c.update(exec_run_s=0.0, spill_bytes=0)
        seen: set = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            # adaptive execution may cancel a stage it no longer needs; such
            # jobs still cost time but are not counted, since whether one
            # started before the cancel is a race
            done = job.status().toString() == "SUCCEEDED"
            c["jobs"] += done
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                span.job_intervals.append(
                    (job.submissionTime().get().getTime() / 1e3,
                     job.completionTime().get().getTime() / 1e3)
                )
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                status = st.status().toString()
                if status == "SKIPPED":
                    continue
                if done and status == "COMPLETE":
                    c["tasks"] += st.numCompleteTasks()
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["exec_run_s"] += st.executorRunTime() / 1e3
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # counters are inclusive, like wall time: a parent adds its
        # children's (already closed) spans; self_s is reported separately
        for child in self.spans[idx + 1 :]:
            if child.parent == idx:
                span.job_intervals.extend(child.job_intervals)
                for k in c:
                    c[k] += child.counters[k]
        wall = span.end - span.start
        c["wall_s"] = wall
        c["driver_s"] = wall - covered(span.job_intervals, span.start, span.end)
        span.counters = c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (s, st) in enumerate(zip(self.spans, self_times(self.spans))):
                f.write(json.dumps(dict(asdict(s), index=i, self_s=st)) + "\n")

    def totals(self) -> dict[str, dict]:
        """Per span name: counters summed over every call, plus self time."""
        out: dict[str, dict] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            agg = out.setdefault(s.name, {"calls": 0, "self_s": 0.0})
            agg["calls"] += 1
            agg["self_s"] += st
            for k, v in s.counters.items():
                agg[k] = agg.get(k, 0) + v
        return out
