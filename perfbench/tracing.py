"""Spans around the benchmark's calls into the engine.

A :class:`Tracer` is created per run and handed to every workload
step. With tracing off a span only reads the clock (the untraced
passes still need per-read latencies); with tracing on it also

- tags the call's Spark jobs with a job group of its own (as in
  ``scripts/job_profile.py``) and, when the call returns, reads the
  jobs' stages from the Spark driver's status store: job, stage and task
  counts, executor run and GC time, shuffle, spill and output bytes,
  and task skew (max ÷ median task run time of the slowest stage);
- counts the SQL executions the call started, and among them the
  actions (executions that are not checkpoint materializations): a
  connected-components round is one convergence action, which is how
  its rounds are read from outside;
- reads ``queryExecution().tracker().phases()`` of frames the
  benchmark holds (analysis, optimization + planning);
- adds up the time it spends in all of the above (``self_s``), which
  is what tracing adds to a pass.

Spans stay in memory (name, start, end, parent, run id, fields) and
are written out once, when the run ends. Nothing here reaches inside
the engine: the spans sit at the benchmark's own call sites.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

#: status-store fields summed over a call's non-skipped stages
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
    "input_records": ("inputRecords", 1),
}


@dataclass
class Span:
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0
    fields: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups = 0
        #: seconds spent in the tracer's own bookkeeping: the tracing
        #: overhead, measured directly
        self.self_s = 0.0

    def new_run(self) -> None:
        """Spans of one pass share a run id."""
        self.run_id = uuid.uuid4().hex[:12]

    @contextmanager
    def span(self, name: str, job_group: bool = True):
        """Time one call. Job-group spans must not nest: the inner one
        would clear the outer group when it ends."""
        parent = self._stack[-1].name if self._stack else None
        t0 = time.perf_counter()
        group = None
        if self.enabled and job_group:
            self._groups += 1
            group = f"perfbench-{self.run_id}-{self._groups}"
            sc = self.spark.sparkContext
            sc.setJobGroup(group, name)
            last_exec = self._last_execution_id()
        sp = Span(name, time.perf_counter(), parent, self.run_id)
        self.self_s += sp.start - t0
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sc.setJobGroup(None, None)
                sites = self._executions_after(last_exec)
                sp.fields["sql_execs"] = len(sites)
                sp.fields["actions"] = sum(
                    ".localCheckpoint(" not in site for site in sites
                )
                sp.fields.update(self._group_metrics(group))
            self.spans.append(sp)
            self.self_s += time.perf_counter() - sp.end

    # -- frame phases ---------------------------------------------------
    def phases(self, sp: Span, df, plan: bool = False) -> None:
        """Record analysis and optimization+planning time of a held
        frame. ``plan=True`` forces physical planning of a frame that
        was only written (a write plans its own command, not the
        frame), so the traced pass pays one extra planning."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        if plan:
            qe.executedPlan()
        ph = qe.tracker().phases()

        def ms(p: str) -> float:
            o = ph.get(p)
            return o.get().durationMs() / 1e3 if o.isDefined() else 0.0

        sp.fields["analysis_s"] = sp.fields.get("analysis_s", 0.0) + ms("analysis")
        sp.fields["planning_s"] = (
            sp.fields.get("planning_s", 0.0) + ms("optimization") + ms("planning")
        )
        self.self_s += time.perf_counter() - t0

    # -- status store ---------------------------------------------------
    def _executions(self):
        return self.spark._jsparkSession.sharedState().statusStore().executionsList()

    def _last_execution_id(self) -> int:
        lst = self._executions()
        return lst.apply(lst.size() - 1).executionId() if lst.size() else -1

    def _executions_after(self, last_id: int) -> list[str]:
        """Call sites (the JVM frame that started each) of the SQL
        executions with an id above ``last_id``."""
        lst, out = self._executions(), []
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            if e.executionId() <= last_id:
                break
            out.append(e.details().split("\n", 1)[0])
        return out

    def _group_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=len(jobs), stages=0, tasks=0, task_skew=0.0)
        seen = set()
        quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        slowest = -1.0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for k, (attr, scale) in STAGE_FIELDS.items():
                    out[k] += getattr(sd, attr)() * scale
                if sd.executorRunTime() > slowest:
                    summary = store.taskSummary(s, sd.attemptId(), quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        slowest = sd.executorRunTime()
                        out["task_skew"] = run.apply(1) / max(run.apply(0), 1.0)
        return out

    # -- output ---------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        "fields": s.fields,
                    }
                    for s in self.spans
                ],
                f,
                indent=1,
            )
