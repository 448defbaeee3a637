"""Stdlib-only parser for Spark's JSON event log.

Folds job, stage, task and SQL-metric events into one row of engine and
operator numbers per span.  A span owns a job when the job's group id
(``spark.jobGroup.id``) is the span's id, or an alias of it (a
streaming query runs its jobs under its run id).  Jobs that no span owns
are counted, never dropped.

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metric name -> operator row key; all are Spark "timing" metrics,
# in milliseconds.  "time to build" is the broadcast exchange's
# build (a driver-side update); "time to build hash map" the
# shuffled-hash join's.
OPERATOR_METRICS = {
    "scan time": "scan_s",
    "time in aggregation build": "agg_build_s",
    "sort time": "sort_s",
    "time to build hash map": "hash_build_s",
    "time to build": "hash_build_s",
    "time to run Python workers": "python_worker_s",
}
OPERATOR_KEYS = sorted(set(OPERATOR_METRICS.values()))
ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


def empty_row() -> dict[str, float]:
    row: dict[str, float] = {k: 0 for k in ENGINE_KEYS}
    row.update({k: 0.0 for k in OPERATOR_KEYS})
    row["job_intervals"] = []  # type: ignore[assignment]
    return row


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, in s."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def parse(path: str, aliases: dict[str, str] | None = None) -> dict:
    """Returns ``{"spans": {span_id: row}, "unowned": row}``.  ``aliases``
    maps a foreign job-group id (e.g. a streaming run id) to a span id."""
    aliases = aliases or {}
    job_owner: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    execution_owner: dict[int, str | None] = {}
    accum_names: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(empty_row)
    unowned = empty_row()

    def row_for(owner: str | None) -> dict:
        return unowned if owner is None else rows[owner]

    def add_operator(owner: str | None, name: str | None, ms) -> None:
        if name in OPERATOR_METRICS:
            row_for(owner)[OPERATOR_METRICS[name]] += float(ms) / 1e3

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                owner = aliases.get(group, group)
                job_id = ev["Job ID"]
                job_owner[job_id] = owner
                job_start[job_id] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job_id
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    execution_owner.setdefault(int(exec_id), owner)
                row_for(owner)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job_id = ev["Job ID"]
                if job_id in job_start:
                    row_for(job_owner[job_id])["job_intervals"].append(
                        (job_start[job_id], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                owner = job_owner.get(stage_job.get(info["Stage ID"]))
                row = row_for(owner)
                row["stages"] += 1
                row["tasks"] += info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                owner = job_owner.get(stage_job.get(ev["Stage ID"]))
                row = row_for(owner)
                tm = ev.get("Task Metrics") or {}
                row["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                row["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                row["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if "Update" in acc:
                        add_operator(owner, acc.get("Name"), acc["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev["sparkPlanInfo"], accum_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                owner = execution_owner.get(ev["executionId"])
                for accum_id, value in ev["accumUpdates"]:
                    add_operator(owner, accum_names.get(accum_id), value)

    return {"spans": dict(rows), "unowned": unowned}


def fold(rows: list[dict]) -> dict:
    """Sum rows; ``job_s`` is the union of their job intervals, so jobs
    that overlap in time are not counted twice."""
    out = empty_row()
    for row in rows:
        for k, v in row.items():
            if k == "job_intervals":
                out[k].extend(v)
            elif k != "job_s":
                out[k] += v
    out["job_s"] = union_seconds(out.pop("job_intervals"))
    return out
