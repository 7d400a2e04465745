"""Executed-plan SQL metrics and Spark job counts for one action.

Run the action as ``collect()`` on the frame itself, then call
:func:`plan_metrics` on that frame: the metrics live on the frame's own
``QueryExecution``. A ``noop`` write or ``count()`` runs a separate query
execution and leaves these metrics at 0.

The walk descends through AQE: ``AdaptiveSparkPlan`` into its final plan,
every ``*QueryStage`` into the stage's plan, and into scalar subqueries.
A reused exchange is counted once, where it first ran.
"""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

# metric name on the plan node -> benchmark counter, per node kind
_SCAN = {"numFiles": "scan_files", "filesSize": "scan_bytes",
         "numOutputRows": "scan_rows"}
_SHUFFLE = {"shuffleBytesWritten": "shuffle_bytes",
            "shuffleRecordsWritten": "shuffle_records"}
_PYTHON = {"pythonNumRowsReceived": "py_rows", "pythonDataSent": "py_bytes_sent",
           "pythonDataReceived": "py_bytes_recv",
           "pythonTotalTime": "py_total_ms", "pythonBootTime": "py_boot_ms",
           "pythonInitTime": "py_boot_ms"}
PLAN_KEYS = (
    "scan_files", "scan_bytes", "scan_rows", "shuffle_bytes",
    "shuffle_records", "broadcast_bytes", "spill_bytes",
    "agg_peak_mem_bytes", "py_rows", "py_bytes_sent", "py_bytes_recv",
    "py_total_ms", "py_boot_ms",
)


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _children(node) -> list:
    kids = [node.children().apply(i) for i in range(node.children().size())]
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    elif name.endswith("QueryStage"):
        kids.append(node.plan())
    subs = node.subqueries()
    kids += [subs.apply(i) for i in range(subs.size())]
    return kids


def plan_metrics(df) -> dict[str, int]:
    """Sum the executed plan's scan, exchange, spill, aggregate-memory and
    Python-worker metrics. Call after ``df.collect()``."""
    out = Counter({k: 0 for k in PLAN_KEYS})
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        ident = node.id() if hasattr(node, "id") else None
        name = node.nodeName()
        if name == "ReusedExchange":
            continue
        if ident is not None:
            if ident in seen:
                continue
            seen.add(ident)
        m = _metrics(node)
        if name.startswith("Scan ") or name.startswith("FileScan"):
            for k, v in _SCAN.items():
                out[v] += m.get(k, 0)
        elif name == "Exchange":
            for k, v in _SHUFFLE.items():
                out[v] += m.get(k, 0)
        elif name == "BroadcastExchange":
            out["broadcast_bytes"] += m.get("dataSize", 0)
        for k, v in _PYTHON.items():
            out[v] += m.get(k, 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        if "Aggregate" in name:
            out["agg_peak_mem_bytes"] += m.get("peakMemory", 0)
        stack.extend(_children(node))
    return dict(out)


class JobCounter:
    """Counts the Spark jobs, stages and tasks that ran under a job group.

    ``with counter.group("name"):`` tags every job the current thread
    starts; :meth:`counts` reads them back from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
