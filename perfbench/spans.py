"""Spans and Spark counters, taken from outside the library.

The benchmark never changes library code: every number here comes from
timing a call into a public function, from the job group the benchmark set
around that call, or from walking the final physical plan of the DataFrame
the call returned.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


class Tracer:
    """In-memory span recorder.  Each span keeps its name, start, end (in
    seconds since the tracer was created), parent id and run id; counts
    are attached at span end.  Spans are written out once, by :meth:`write`.
    """

    def __init__(self, run_id: str, t0: float):
        self.run_id = run_id
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, **counts) -> dict:
        """Record a span timed by the caller (perf_counter timestamps)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": start - self.t0,
            "end": end - self.t0,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        rec = self.add(name, time.perf_counter(), time.perf_counter())
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def self_times(self) -> list[float]:
        """Each span's duration minus the part covered by its children.
        Children of one span never overlap (one client thread), so the
        covered part is the sum of their durations."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        for s, self_s in zip(self.spans, self.self_times()):
            s["self"] = self_s
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


class JobCounter:
    """Jobs, stages and tasks per job group.

    Counting by group is exact however many jobs the application has run:
    Spark's status store trims its oldest jobs once it retains more than
    ``spark.ui.retainedJobs`` (1000), so the difference of two readings of
    the total job list goes wrong after that point, while a group read
    right after its jobs end is still whole.  The listener bus delivers job
    events asynchronously; :meth:`drain` waits for it before any reading.
    """

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> int:
        self.drain()
        return len(self.tracker.getJobIdsForGroup(group))

    def jobs_stages_tasks(self, group: str) -> tuple[int, int, int]:
        """Jobs in the group, distinct stages that ran at least one task,
        and the tasks those stages completed.  A stage reused by a later job
        (AQE submits one job per query stage) is counted once."""
        self.drain()
        job_ids = self.tracker.getJobIdsForGroup(group)
        stages: dict[int, int] = {}
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages[sid] = st.numCompletedTasks
        return len(job_ids), len(stages), sum(stages.values())


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def final_plan_nodes(df) -> list:
    """Nodes of the final adaptive plan of an executed DataFrame.

    Path: ``AdaptiveSparkPlanExec.executedPlan()``, then ``.plan()`` of
    every ``*QueryStageExec`` (including ``ResultQueryStageExec``), then
    ``children()``; nested adaptive plans (subqueries) are entered the same
    way.  A ``ReusedExchangeExec`` is kept but not entered, so a reused
    exchange counts once.  The plan string is no substitute: after
    execution it also carries the initial plan, so its ``Exchange`` count
    is inflated.
    """
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out.append((name, node))
        if name == "ReusedExchangeExec":
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def exchange_counts(nodes) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) among final-plan nodes."""
    shuffle = sum(1 for name, _ in nodes if name == "ShuffleExchangeExec")
    broadcast = sum(1 for name, _ in nodes if name == "BroadcastExchangeExec")
    return shuffle, broadcast


def plan_metrics(nodes) -> dict[str, int]:
    """Node and SQL-metric totals of one final plan, by layer."""
    shuffle, broadcast = exchange_counts(nodes)
    m = {
        "operators.plan_nodes": len(nodes),
        "operators.shuffle_exchanges": shuffle,
        "operators.broadcast_exchanges": broadcast,
        "operators.shuffle_bytes": 0,
        "operators.spill_bytes": 0,
        "functions.python_nodes": 0,
        "functions.python_rows": 0,
        "sources.scan_rows": 0,
        "sources.scan_bytes": 0,
    }
    for name, node in nodes:
        if name == "ShuffleExchangeExec":
            m["operators.shuffle_bytes"] += _metric(node, "dataSize")
        elif name in ("SortExec", "HashAggregateExec", "ObjectHashAggregateExec"):
            m["operators.spill_bytes"] += _metric(node, "spillSize")
        elif name == "FileSourceScanExec":
            m["sources.scan_rows"] += _metric(node, "numOutputRows")
            m["sources.scan_bytes"] += _metric(node, "filesSize")
        elif any(k in name for k in PYTHON_NODE_MARKERS):
            m["functions.python_nodes"] += 1
            m["functions.python_rows"] += _metric(node, "pythonNumRowsReceived")
    return m
