"""Spans around calls into the program, with Spark stage metrics.

A span is (id, name, start, end, parent, query id). With tracing on,
each span runs its calls under its own Spark job group, so the jobs a
call launched can be read back from the status tracker when it ends,
and the stage metrics of those jobs from the JVM status store when the
run ends. Job groups are local to a thread (pinned-thread mode), so a
span opened on a worker thread sets the group on that thread.

With tracing off, ``span`` only times the call: no job group, no
status-tracker reads, no hooks in the program.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "busy_ms",  # executorRunTime, summed over tasks
    "cpu_ns",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    qid: int | None = None
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on threads with no open span of their
        # own (the build's group threads): the innermost main-thread span
        self._main_stack: list[Span] = []
        # time spent setting job groups and reading the status tracker
        self.bookkeeping_s = 0.0
        # part of every job-group id, so spans recorded after a reset
        # never read back the jobs of spans from before it
        self._generation = 0

    def reset(self) -> None:
        """Forget every span, to record a new run in the same session."""
        self.spans = []
        self.bookkeeping_s = 0.0
        self._generation += 1

    def _group(self, sp: Span) -> str:
        return f"pb-{self._generation}-{sp.id}"

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, qid: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, 0.0,
                      parent.id if parent else None, qid)
            self.spans.append(sp)
        stack.append(sp)
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(self._group(sp), name)
            with self._lock:
                self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                self._close_group(sp, stack[-1] if stack else None)
                with self._lock:
                    self.bookkeeping_s += time.perf_counter() - sp.end

    def _close_group(self, sp: Span, outer: Span | None) -> None:
        if outer is not None:
            self.sc.setJobGroup(self._group(outer), outer.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        sp.jobs = sorted(st.getJobIdsForGroup(self._group(sp)))
        for j in sp.jobs:
            info = st.getJobInfo(j)
            if info is not None:
                sp.stages.extend(int(s) for s in info.stageIds)

    def stage_metrics(self) -> dict[int, dict]:
        """Metrics of every stage the status store still holds, summed
        over attempts. Needs spark.ui.retainedStages above the run's
        stage count."""
        jvm = self.sc._jvm
        seq = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            m = out.setdefault(int(s.stageId()), dict.fromkeys(STAGE_FIELDS, 0))
            # a job lists the stages it skipped (shuffle output reused);
            # they hold no metrics and are not counted as stages run
            m["ran"] = m.get("ran", False) or s.status().toString() != "SKIPPED"
            m["busy_ms"] += s.executorRunTime()
            m["cpu_ns"] += s.executorCpuTime()
            m["input_bytes"] += s.inputBytes()
            m["output_bytes"] += s.outputBytes()
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def descendants(self, sp: Span) -> list[Span]:
        kids = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur.id, []))
        return out

    def totals(self, spans: list[Span], stages: dict[int, dict]) -> dict:
        """Sum over ``spans``: wall seconds, jobs, distinct stages run and
        their metrics. A span's jobs include those of the spans nested
        in it."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot.update(wall_s=0.0, jobs=0, stages=0)
        for sp in spans:
            tot["wall_s"] += sp.wall
            jobs, stage_ids = set(), set()
            for d in self.descendants(sp):
                jobs.update(d.jobs)
                stage_ids.update(d.stages)
            tot["jobs"] += len(jobs)
            for sid in stage_ids:
                m = stages.get(sid, {})
                tot["stages"] += m.get("ran", False)
                for k in STAGE_FIELDS:
                    tot[k] += m.get(k, 0)
        return tot

    def dump(self, stages: dict[int, dict]) -> dict:
        return {
            "spans": [
                {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "qid": s.qid, "jobs": s.jobs,
                 "stages": sorted(set(s.stages))}
                for s in self.spans
            ],
            "stages": {str(k): v for k, v in sorted(stages.items())},
        }


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
