"""Benchmark of the spark-ifcb engine: one command, seeded workloads.

    python3 perfbench/run.py --workload headline_sf0.001 --seed 1 --seconds 10 --trace 0

Runs from any working directory.  The inputs are generated from
``--seed`` under ``.perfbench_work/`` at the root of the checkout and
removed at the end.  Set-up (package import, Spark session start on
``local[<cores>]`` via ``session.get_spark``, the workload's warm-up) is
timed, then timed passes run until ``--seconds`` have elapsed and the
workload's minimum of passes is done, then the outputs are checked.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is on, spans are recorded around every
layer call, and the metrics are the per-layer ones.  The span tree, the
per-span engine rows and the layer table are written to
``.perfbench_out/trace-<workload>-<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = self.registry = self.tracer = self.listener = None


def _configure_environment(work: str, trace: bool) -> None:
    """Session settings of the benchmark's own, given to ``get_spark``'s
    JVM through ``PYSPARK_SUBMIT_ARGS``: Spark's local and temp files under
    the run's work directory, and for a traced run an uncompressed,
    unrolled event log.  Python workers find the package through PYTHONPATH, so the
    command works from any directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    args = [
        "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(setup_s: float, passes: list[tuple[float, dict]], ops: list[str]) -> dict:
    """Per-operation medians over the timed passes; ``suite_s`` is their
    sum (one typical pass), ``query_geomean_s`` their geometric mean.
    Operations that failed in every pass are left out; if all did, both
    read 0."""
    samples = {op: [t[op] for _, t in passes if op in t] for op in ops}
    per_op = {op: statistics.median(xs) for op, xs in samples.items() if xs}
    logs = [math.log(v) for v in per_op.values()]
    return {
        "setup_s": setup_s,
        "suite_s": sum(per_op.values()),
        "query_geomean_s": math.exp(statistics.fmean(logs)) if logs else 0.0,
        "per_op_s": per_op,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ifcb_data_pipeline_spark")):
        print(f"perfbench: no ifcb_data_pipeline_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(args.seed, work)
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.prepare()
        _configure_environment(work, trace)

        t0 = time.perf_counter()
        from ifcb_data_pipeline_spark.queries import load_all
        from ifcb_data_pipeline_spark.session import get_spark

        ctx.registry = load_all()
        spark = ctx.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        import spans

        ctx.tracer = spans.Tracer(spark, trace)
        if trace:
            spans.install_source_spans(ctx.tracer)
            ctx.listener = spans.stream_listener(spark)
        wl.warm()
        setup_s = time.perf_counter() - t0

        passes: list[tuple[float, dict]] = []
        t_measure = time.perf_counter()
        while len(passes) < wl.min_passes or (
            time.perf_counter() - t_measure < args.seconds
            and len(passes) != wl.max_passes
        ):
            ctx.tracer.phase = f"pass{len(passes)}"
            t = time.perf_counter()
            times = wl.run_pass(len(passes))
            passes.append((time.perf_counter() - t, times))
        ctx.tracer.phase = "check"
        wl.check()
        e2e = end_to_end(setup_s, passes, wl.ops)
        _stop_session(spark)
        spark = None

        metrics = {k: (v, "s") for k, v in e2e.items() if k != "per_op_s"}
        detail = {"workload": args.workload, "seed": args.seed,
                  "pass_s": [wall for wall, _ in passes],
                  "per_op_s": e2e["per_op_s"], **wl.summary(e2e["per_op_s"])}
        if trace:
            import layers

            log = glob.glob(os.path.join(work, "eventlog", "*"))
            table, report = layers.layer_table(
                ctx.tracer.spans, log[0], ctx.listener, e2e["suite_s"]
            )
            metrics = table
            detail.update(report["detail"])
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            out = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(out, "w") as fh:
                json.dump({**detail, "end_to_end": e2e, "layers": table, **report}, fh, indent=1)
            detail["trace_file"] = os.path.relpath(out, ROOT)
        detail["failed_ratio"] = wl.failed / max(1, wl.attempted)
        print(json.dumps({"perfbench_detail": detail}))
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
