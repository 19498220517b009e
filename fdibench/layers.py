"""Per-layer readings taken from Spark's own bookkeeping, plus spans.

Everything here reads state the engine already keeps: the application
status store (jobs, stages, task metrics), the SQL status store (the final
adaptive plan of every execution), the block manager's RDD storage info and
``StreamingQueryProgress``. Nothing here changes how the library runs.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# Physical nodes that cross into a Python worker.
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "ArrowAggregatePython",
        "WindowInPandas",
        "ArrowWindowPython",
        "FlatMapGroupsInPandasWithState",
        "TransformWithStateInPandas",
    }
)

# Build-time jobs, classified by the call site Spark records as the job name.
JOB_KINDS = (
    ("schema", ("parquet at",)),
    ("checkpoint", ("localCheckpoint at", "checkpoint at")),
    # broadcast exchanges run their collect on a pool thread
    ("broadcast", ("$anonfun$withThreadLocalCaptured", "broadcast")),
    ("collect", ("collect", "first at", "head at", "take at", "toPandas at")),
)


def job_kind(name: str) -> str:
    for kind, prefixes in JOB_KINDS:
        if name.startswith(prefixes):
            return kind
    return "other"


def plan_nodes(description: str) -> list[str]:
    """Node names of the final physical plan in a formatted plan string.

    Only the tree above the per-node details counts, and inside an adaptive
    plan only its ``Final Plan`` branch (the ``Initial Plan`` branch repeats
    the pre-execution plan)."""
    names: list[str] = []
    skip_from: int | None = None
    started = False
    for line in description.split("\n"):
        if not started:
            started = line.startswith("== Physical Plan ==")
            continue
        if not line.strip():
            break
        body = line.lstrip(" :|+-")
        col = len(line) - len(body)
        if skip_from is not None and col >= skip_from:
            continue
        skip_from = None
        if body.startswith("== Initial Plan =="):
            skip_from = col
            continue
        m = re.match(r"(?:\* )?([A-Za-z]+)", body)
        if m and not body.startswith("=="):
            names.append(m.group(1))
    return names


def plan_counts(description: str) -> dict[str, int]:
    names = plan_nodes(description)
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "smj": sum(n == "SortMergeJoin" for n in names),
        "broadcast_joins": sum(
            n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for n in names
        ),
        "python_nodes": sum(n in PYTHON_NODES for n in names),
    }


class SparkLedger:
    """Reads jobs, stages and SQL executions between two marks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        self.settle()
        jobs = self.store.jobsList(None)  # newest first
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        execs = self.sql.executionsList()  # oldest first
        n = execs.size()
        last_exec = execs.apply(n - 1).executionId() if n else -1
        return last_job, last_exec

    def jobs_between(self, a: tuple[int, int], b: tuple[int, int]) -> dict[str, float]:
        out = {f"{k}_jobs": 0 for k, _ in JOB_KINDS}
        out.update(other_jobs=0, jobs=0, stages=0, tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, gc_s=0.0, shuffle_read_mb=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, input_mb=0.0)
        seen: set[int] = set()
        for job_id in range(a[0] + 1, b[0] + 1):
            job = self.store.job(job_id)
            out["jobs"] += 1
            out[f"{job_kind(job.name())}_jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["input_mb"] += st.inputBytes() / MB
        return out

    def plans_between(self, a: tuple[int, int], b: tuple[int, int]) -> dict[str, int]:
        out = {"exchanges": 0, "smj": 0, "broadcast_joins": 0, "python_nodes": 0}
        for exec_id in range(a[1] + 1, b[1] + 1):
            ex = self.sql.execution(exec_id)
            if ex.isDefined():
                for k, v in plan_counts(ex.get().physicalPlanDescription()).items():
                    out[k] += v
        return out

    def persisted(self) -> tuple[int, float]:
        """(persisted RDDs, their memory + disk MB) from the block manager."""
        infos = self.sc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def progress_records(query) -> list[dict]:
    """Non-empty triggers of a finished streaming query, oldest first."""
    recs = []
    for p in query.recentProgress:
        rec = json.loads(p.json)
        if rec.get("numInputRows", 0) > 0:
            recs.append(rec)
    return recs


STREAM_KEYS = (
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.state_commit_ms",
    "streaming.state_rows_total",
    "streaming.state_memory_mb",
    "streaming.triggers",
)


def progress_layers(rec: dict) -> dict[str, float]:
    """One trigger's layer readings, keyed like ``STREAM_KEYS``."""
    d = rec.get("durationMs", {})
    ops = rec.get("stateOperators", [])
    return {
        "streaming.trigger_ms": float(d.get("triggerExecution", 0)),
        "streaming.add_batch_ms": float(d.get("addBatch", 0)),
        "streaming.query_planning_ms": float(d.get("queryPlanning", 0)),
        "streaming.wal_commit_ms": float(d.get("walCommit", 0)),
        "streaming.state_commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        "streaming.state_rows_total": float(sum(o.get("numRowsTotal", 0) for o in ops)),
        "streaming.state_memory_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / MB,
    }


class Tracer:
    """In-memory spans: name, start, end, parent span and run id. Disabled
    tracers record nothing, so untraced runs pay no cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float | None, **attrs) -> dict | None:
        """Records a span under the currently open one; ``end`` may come
        later (an open span) or from elsewhere (a streaming trigger)."""
        if not self.enabled:
            return None
        rec = {"run": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.add(name, time.time(), None, **attrs)
        if rec is None:
            yield None
            return
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
