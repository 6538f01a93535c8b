"""Tracing from outside the package: spans around public calls, and Spark's
own per-job and per-stage metrics attributed to those spans.

A span wraps a public function by rebinding the name its calling module
imported (``plans.pipeline.candidate_pairs`` and the like), so the package
runs unmodified. Entering a span sets the Spark job group to the span id;
every job Spark starts while the span is innermost — including broadcast and
AQE jobs, which inherit the group — is attributed to it. Jobs a plan launches
from its own body therefore count as that plan's self time.

Spark's status store keeps at most ``spark.ui.retainedJobs`` /
``retainedStages`` (1000) entries, so ``SparkLedger.collect`` is called after
every traced call, before older entries can be evicted.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "gdunbench-"
# job group of the benchmark's own bookkeeping jobs (checks, counts)
AUX_GROUP = "gdunbench-aux"


@dataclass
class Span:
    id: str
    name: str
    start: float  # epoch seconds, comparable with Spark's job/stage times
    parent: str | None
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{GROUP_PREFIX}{len(self.spans) + 1}", name, time.time(),
                 parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return traced

    @contextmanager
    def patched(self, targets):
        """Rebind ``module.attr`` to a traced wrapper for each
        (module, attr, span_name, on_result) target; restore on exit."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, *_ in targets]
        try:
            for mod, attr, name, on_result in targets:
                setattr(mod, attr, self.wrap(getattr(mod, attr), name, on_result))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def self_time(self, s: Span) -> float:
        kids = [c for c in self.spans if c.parent == s.id]
        return s.duration - sum(c.duration for c in kids)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": self.self_time(s), "counts": s.counts}
            for s in self.spans
        ]


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class SparkLedger:
    """Job and stage records read from the status store, kept by id."""

    sc: object
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    def collect(self) -> list[int]:
        """Read the status store; return the ids of jobs seen for the first
        time."""
        new = []
        store = self.sc._jsc.sc().statusStore()
        for j in _scala_iter(store.jobsList(None)):
            jid = j.jobId()
            if jid in self.jobs and self.jobs[jid]["end"] is not None:
                continue
            grp = j.jobGroup()
            if jid not in self.jobs:
                new.append(jid)
            self.jobs[jid] = {
                "group": grp.get() if grp.isDefined() else None,
                "stage_ids": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
                "skipped_stages": j.numSkippedStages(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            }
        gw = self.sc._gateway
        for st in _scala_iter(
                store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            key = (st.stageId(), st.attemptId())
            if key in self.stages and self.stages[key]["status"] in ("COMPLETE", "FAILED"):
                continue
            self.stages[key] = {
                "status": st.status().toString(),
                "tasks": st.numTasks(),
                "failed_tasks": st.numFailedTasks(),
                "task_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
                "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
                "start": _opt_ms(st.submissionTime()),
                "end": _opt_ms(st.completionTime()),
            }
        return new

    def call_jobs(self) -> int:
        """Jobs started since the last collect, bookkeeping jobs excluded."""
        return sum(self.jobs[j]["group"] != AUX_GROUP for j in self.collect())

    def totals(self, groups: set[str]) -> dict:
        """Summed job/stage metrics over jobs whose group is in ``groups``.
        A stage run by several jobs (reused shuffle output) is charged to
        the first job that lists it; later jobs count it as skipped."""
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stage_ids"]:
                owner.setdefault(sid, jid)
        mine = {jid for jid, j in self.jobs.items() if j["group"] in groups}
        out = {"jobs": len(mine), "stages_skipped": sum(
            self.jobs[j]["skipped_stages"] for j in mine)}
        keys = ("tasks", "failed_tasks", "task_s", "cpu_s", "shuffle_write_mb", "spill_mb")
        out.update({k: 0.0 for k in keys})
        out["stages"] = 0
        intervals = []
        for (sid, _att), st in self.stages.items():
            if owner.get(sid) not in mine or st["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            for k in keys:
                out[k] += st[k]
            if st["start"] is not None and st["end"] is not None:
                intervals.append((st["start"], st["end"]))
        out["stage_intervals"] = intervals
        return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
