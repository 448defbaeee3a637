"""The per-layer table of a traced run.

Joins the spans the benchmark recorded with the event-log rows of the
jobs each span caused (``eventlog.parse``) and the streaming listener's
progress reports.  Every value is per timed pass: the lower median over
the timed passes (Spark's job counts vary by one now and then, and the
lower median is always a count one pass really had).  Jobs in a span's
subtree belong to it, so ``queries.eager_jobs`` counts the jobs fired
while a query was being built, including those of the table loads
inside it.
"""

from __future__ import annotations

import statistics

import eventlog

# name -> unit of every per-layer metric, in BENCHMARK.json order.
UNITS = {
    "queries.construct_s": "s",
    "queries.eager_jobs": "count",
    "queries.eager_job_s": "s",
    "queries.driver_self_s": "s",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "sources.bytes_written": "bytes",
    "engine.execute_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.tasks_per_stage": "tasks/stage",
    "engine.busy_cores": "cores",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.unowned_jobs": "count",
    "operators.scan_s": "s",
    "operators.agg_build_s": "s",
    "operators.hash_build_s": "s",
    "operators.python_worker_s": "s",
    "plans.ingest_tick_jobs": "count",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "trace.suite_s": "s",
}
# Times of the ingest path only, reported in the detail line.
INGEST_DETAIL = ("plans.shark_build_s", "sources.tsv_write_s", "streaming.batch_s")
# Every value, these and ``operators.sort_s`` (a few milliseconds at this
# scale, so it often reads the same) included, is kept in the trace file.


def _duration(span: dict) -> float:
    return span["end"] - span["start"]


def layer_table(spans: list[dict], log_path: str, listener, suite_s: float):
    """Returns ``(table, report)``: ``table`` maps each name of ``UNITS``
    to ``(value, unit)``; ``report`` holds the span tree with each span's
    own engine row, the unowned jobs, and the ingest-only details."""
    aliases = {run: s["id"] for s in spans for run in s.get("stream_runs", ())}
    parsed = eventlog.parse(log_path, aliases)
    rows, by_id = parsed["spans"], {s["id"]: s for s in spans}

    def ancestors(s: dict):
        while s is not None:
            yield s
            s = by_id.get(s["parent"])

    def pass_values(timed: list[dict]) -> dict[str, float]:
        def subtree(layer: str, name: str | None = None) -> dict:
            """Event-log rows of every span under a ``layer`` span."""
            return eventlog.fold(
                [
                    rows[s["id"]]
                    for s in timed
                    if s["id"] in rows
                    and any(a["layer"] == layer and name in (None, a["name"]) for a in ancestors(s))
                ]
            )

        def seconds(layer: str, name: str | None = None) -> float:
            return sum(
                _duration(s) for s in timed if s["layer"] == layer and name in (None, s["name"])
            )

        engine = eventlog.fold([rows[s["id"]] for s in timed if s["id"] in rows])
        construct = subtree("queries")
        progress = [
            p
            for s in timed
            for run in s.get("stream_runs", ())
            for p in (listener.runs.get(run, []) if listener else [])
        ]
        return {
            "queries.construct_s": seconds("queries"),
            "queries.eager_jobs": construct["jobs"],
            "queries.eager_job_s": construct["job_s"],
            "queries.driver_self_s": seconds("queries") - construct["job_s"],
            "sources.load_s": seconds("sources", "load_table"),
            "sources.load_jobs": subtree("sources", "load_table")["jobs"],
            "sources.bytes_written": sum(s.get("bytes", 0) for s in timed),
            "engine.execute_s": engine["job_s"],
            **{f"engine.{k}": engine[k] for k in eventlog.ENGINE_KEYS},
            "engine.tasks_per_stage": engine["tasks"] / max(1, engine["stages"]),
            "engine.busy_cores": engine["executor_run_s"] / max(1e-9, engine["job_s"]),
            **{f"operators.{k}": engine[k] for k in eventlog.OPERATOR_KEYS},
            "plans.ingest_tick_jobs": subtree("plans", "ingest_tick")["jobs"],
            "streaming.batches": len(progress),
            "streaming.state_rows": sum(p["state_rows"] for p in progress),
            "plans.shark_build_s": seconds("plans", "shark_mapping"),
            "sources.tsv_write_s": seconds("sources", "write_delivery_tsv"),
            "streaming.batch_s": sum(p["batch_s"] for p in progress),
        }

    phases = sorted({s["phase"] for s in spans if s["phase"].startswith("pass")})
    per_pass = [pass_values([s for s in spans if s["phase"] == ph]) for ph in phases] or [pass_values([])]
    values = {k: statistics.median_low([v[k] for v in per_pass]) for k in per_pass[0]}
    # Jobs in no group, or in a group that is no span's (nor an alias of one).
    unowned = eventlog.fold(
        [parsed["unowned"], *(r for k, r in rows.items() if k not in by_id)]
    )
    values["engine.unowned_jobs"] = unowned["jobs"]
    values["trace.suite_s"] = suite_s
    table = {k: (values[k], unit) for k, unit in UNITS.items()}

    ingest = any(s["name"] == "ingest_tick" for s in spans)
    detail = {k: values[k] for k in INGEST_DETAIL} if ingest else {}
    span_rows = [
        {**s, "engine": {k: v for k, v in rows.get(s["id"], {}).items() if k != "job_intervals"}}
        for s in spans
    ]
    report = {"detail": detail, "values": values, "spans": span_rows, "unowned": unowned}
    return table, report
