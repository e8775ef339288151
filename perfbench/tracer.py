"""Spans and counters recorded from the benchmark's side of each layer call.

The tracer lives in the benchmark, not in the engine: every span is taken
around a call the benchmark makes into a layer (``Engine.sql``,
``to_spark_sql``, an operator, a commit), and every counter is read after
the op has finished, from Spark's own bookkeeping:

* job attribution by job-id range: every Spark job the scheduler starts
  while an op runs belongs to the op, whichever thread or job group
  started it (the CDC sidecar of a DML commit runs on its own thread);
* Catalyst phase times from ``queryExecution().tracker()``;
* SQL metrics (rows and files scanned, shuffle and spill bytes, Python
  worker time, join output rows) from the executed physical plan.

Spans stay in memory and are written as JSON lines when the run ends.
With tracing off none of this runs: the closed loop only takes the op's
start, prepare and end times.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; nested spans name the enclosing one as parent."""
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}, default=str) + "\n")


def span_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0


class CallCounter:
    """Counts calls to ``owner.<attr>`` while installed.

    The engine and the translator look ``dialect.tokenize`` and
    ``spark.sql`` up at call time, so replacing the attribute sees every
    call."""

    def __init__(self, owner, attr: str) -> None:
        self.owner, self.attr = owner, attr
        self.orig = getattr(owner, attr)
        self.calls = 0

    def __enter__(self):
        def counting(*args, **kwargs):
            self.calls += 1
            return self.orig(*args, **kwargs)

        setattr(self.owner, self.attr, counting)
        return self

    def __exit__(self, *exc):
        setattr(self.owner, self.attr, self.orig)


class SparkProbe:
    """Reads Spark's scheduler and plan bookkeeping through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def jobs_between(self, first: int, end: int, group: str | None) -> dict:
        """Jobs with ids in [first, end): counts, stage/task totals, how many
        ran outside ``group``, and their wall intervals (epoch ms)."""
        self._jsc.listenerBus().waitUntilEmpty()  # status store up to date
        tracker = self.sc.statusTracker()
        in_group = set(tracker.getJobIdsForGroup(group)) if group else set()
        store = self._jsc.statusStore()
        stages = tasks = outside = 0
        intervals: list[tuple[int, int]] = []
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            if group and jid not in in_group:
                outside += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        return {"jobs": end - first, "stages": stages, "tasks": tasks,
                "outside_group": outside, "intervals": intervals}

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Catalyst phase durations of ``df``'s QueryExecution."""
        out: dict[str, float] = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    @staticmethod
    def plan_metrics(df) -> dict[str, float]:
        """Sum the SQL metrics of interest over the executed plan tree,
        looking inside adaptive query stages and subqueries."""
        acc = {"scan_rows": 0.0, "files_read": 0.0, "scan_bytes": 0.0,
               "shuffle_bytes": 0.0, "spill_bytes": 0.0, "python_ms": 0.0,
               "max_join_rows": 0.0}
        try:
            root = df._jdf.queryExecution().executedPlan()
        except Py4JError:
            return acc

        def metric(node, name):
            m = node.metrics()
            return float(m.apply(name).value()) if m.contains(name) else 0.0

        stack = [root]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            if cls.endswith("ScanExec"):
                acc["scan_rows"] += metric(node, "numOutputRows")
                acc["files_read"] += metric(node, "numFiles")
                acc["scan_bytes"] += metric(node, "filesSize")
            elif cls == "ShuffleExchangeExec":
                acc["shuffle_bytes"] += metric(node, "shuffleBytesWritten")
            elif "Join" in cls:
                acc["max_join_rows"] = max(acc["max_join_rows"],
                                           metric(node, "numOutputRows"))
            elif "Python" in cls or "Pandas" in cls or "Arrow" in cls:
                acc["python_ms"] += metric(node, "pythonTotalTime")
            acc["spill_bytes"] += metric(node, "spillSize")
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
            subs = node.subqueries()
            for i in range(subs.size()):
                stack.append(subs.apply(i))
        return acc


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
