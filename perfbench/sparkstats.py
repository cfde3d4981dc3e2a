"""Counters read from the running Spark application: jobs, stages and
tasks per job group, executed-plan SQL metrics, streaming progress,
cached relations, and the resident memory of the driver and its JVM.

All reads go through the public PySpark objects plus py4j calls on the
executed plan; nothing here changes what Spark executes.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from datetime import datetime

#: one entry of a Scala ``Map[String, SQLMetric]`` printed with toString.
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")

#: executed-plan SQL metric -> benchmark counter, summed over plan nodes.
_SUMMED = {
    "FileSourceScanExec": {"numOutputRows": "scan_rows", "scanTime": "scan_time_ms"},
    "ShuffleExchangeExec": {"shuffleBytesWritten": "shuffle_write_bytes"},
    "BroadcastExchangeExec": {"buildTime": "broadcast_build_ms"},
}


def job_counts(sc, group: str) -> Counter:
    """Jobs, stages that ran at least one task, and tasks completed for the
    jobs launched under ``group`` (``sc.setJobGroup``)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = Counter()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks > 0:
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
    return out


def _nodes(plan):
    """Executed physical plan nodes, descending through adaptive plans,
    query stages and subqueries."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield kind, node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _metric_values(node) -> dict[str, int]:
    # one py4j call per node; iterating the Scala map costs ~5 per metric
    return {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}


def plan_metrics(df, store_root: str) -> Counter:
    """Summed SQL metrics of ``df``'s executed plan.  ``df`` must be the
    DataFrame the action ran on: a plain ``count()`` plans a separate
    QueryExecution and leaves no metrics on ``df``.  Scans whose location
    lies under ``store_root`` are also counted as index-store scans."""
    out = Counter()
    for kind, node in _nodes(df._jdf.queryExecution().executedPlan()):
        values = _metric_values(node)
        for metric, name in _SUMMED.get(kind, {}).items():
            out[name] += values.get(metric, 0)
        out["spill_bytes"] += values.get("spillSize", 0)
        out["peak_memory_bytes"] = max(out["peak_memory_bytes"], values.get("peakMemory", 0))
        if kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths().mkString(",")
            if store_root in roots:
                out["store_scan_rows"] += values.get("numOutputRows", 0)
                out["store_scan_time_ms"] += values.get("scanTime", 0)
    return out


def stream_totals(progress: list[dict]) -> dict:
    """Totals over the progress reports (``StreamingQueryProgress`` JSON)
    of a drained streaming query: trigger, addBatch and state-store commit
    time summed over batches, and the largest state a batch left."""
    def state(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators") or [])

    return {
        "input_rows": sum(p["numInputRows"] for p in progress),
        "batches": len(progress),
        "trigger_ms": sum(p["durationMs"].get("triggerExecution", 0) for p in progress),
        "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
        "commit_ms": sum(state(p, "commitTimeMs") for p in progress),
        "state_rows": max((state(p, "numRowsTotal") for p in progress), default=0),
        "state_mem_bytes": max((state(p, "memoryUsedBytes") for p in progress), default=0),
    }


def epoch_s(timestamp: str) -> float:
    """Seconds since the epoch of a progress report's ISO-8601 timestamp."""
    return datetime.fromisoformat(timestamp).timestamp()


def cached_relations(sc) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    size = sum(info.memSize() + info.diskSize() for info in infos)
    return sc._jsc.getPersistentRDDs().size(), size / 2**20


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid(sc) -> int:
    """Process id of the JVM the PySpark gateway launched."""
    return sc._gateway.proc.pid


def dir_mb(path: str) -> float:
    """Bytes of regular files under ``path``, in MB."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total / 2**20
