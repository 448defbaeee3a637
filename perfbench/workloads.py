"""The benchmark's workloads.

Each is a closed loop with one client: the next call starts when the
previous one returns.  ``prepare`` makes the seeded inputs (before the
clock for set-up starts), ``warm`` is the last part of set-up, ``run_pass``
is one timed pass returning the seconds of each operation, and ``check``
verifies outputs outside the timed passes.  A call that raises or
returns a wrong result is counted in ``failed`` and the run goes on.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time
import traceback

import gen

# The headline queries the fixed-cost workload runs, one per operator
# family of ``bench.HEADLINE`` that a layer metric watches: composed
# pipeline (p1), rollup aggregation (a1), as-of join (j4), window QC (w1),
# MinHash dedup with eager construction jobs (dd2), and the Arrow
# Python-worker kernels (mm9).
HEADLINE_CORE = [
    "p1_shark_export",
    "a1_biovolume_rollup",
    "j4_asof_join",
    "w1_adjacency_removal",
    "dd2_minhash_lsh",
    "mm9_perceptual_dedup",
]


class Workload:
    ops: list[str] = []
    min_passes = 1
    max_passes: int | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0

    @property
    def tr(self):
        return self.ctx.tracer

    def warm(self) -> None:
        pass

    def check(self) -> None:
        pass

    def summary(self, per_op: dict[str, float]) -> dict[str, float]:
        """Workload-specific figures for the detail line."""
        return {}

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {op} failed: {why}", file=sys.stderr)

    def _op(self, op: str, fn, times: dict[str, float]) -> object:
        """Run one timed operation; returns its result, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self._fail(op, traceback.format_exc())
            return None
        times[op] = time.perf_counter() - t0
        return result


class Headline(Workload):
    """Headline queries at sf0.001: per-query fixed cost dominates."""

    ops = HEADLINE_CORE
    # The first timed pass after the warm pass is still ~20% slower than
    # later ones; a run that timed it alone would read high.
    min_passes = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self._order = random.Random(ctx.seed)

    def prepare(self) -> None:
        self.tables = gen.make_tables(os.path.join(self.ctx.work, "tables"), self.ctx.seed)

    def _build(self, name: str):
        with self.tr.span("queries", name):
            return self.ctx.registry[name].fn(self.ctx.spark, self.tables)

    def warm(self) -> None:
        """One untimed pass to the noop sink, which takes the first-query
        costs of a fresh JVM and Python workers out of the timed passes."""
        self.run_pass(-1)

    def check(self) -> None:
        """Every query's collected result against its DuckDB oracle
        (``tests/oracle_harness.compare``)."""
        from oracle_harness import compare, duckdb_connection

        oracle = duckdb_connection(self.tables)
        for name in self.ops:
            self.attempted += 1
            try:
                df = self._build(name)
                with self.tr.span("check", name):
                    ok, msg = compare(df, oracle, self.ctx.registry[name].oracle)
            except Exception:
                ok, msg = False, traceback.format_exc()
            if not ok:
                self._fail(f"{name} oracle check", msg)

    def run_pass(self, i: int) -> dict[str, float]:
        times: dict[str, float] = {}
        for name in self._order.sample(self.ops, len(self.ops)):

            def build_and_run(name=name):
                df = self._build(name)
                with self.tr.span("engine", name):
                    df.write.format("noop").mode("overwrite").save()

            self._op(name, build_and_run, times)
        return times


# Ingest sizes: 20 bins of 18-26 ROIs, 22 a bin on average as in a real
# delivery, with a fixed multiset of counts (so every seed processes the
# same number of ROIs); a delta of one new bin (5%); and four sensor CSV
# files of 500 rows.
BASE_ROIS = [18, 20, 22, 24, 26] * 4
DELTA_ROIS = [22]
SENSOR_FILES, SENSOR_ROWS = 4, 500
_ZERO_TICK = {"bins": 0, "rois": 0, "psd_flagged": 0}


class IngestExport(Workload):
    """The production write path: ingest/QC ticks, the streaming tick and
    the SHARK delivery export.  A daily tick runs in a fresh process, so
    the path is measured cold: set-up is session start and registry
    import only, and a run makes exactly one pass."""

    ops = ["full_tick", "noop_tick", "delta_tick", "stream_tick", "shark_delivery"]
    max_passes = 1

    def prepare(self) -> None:
        seed, work = self.ctx.seed, self.ctx.work
        self.tables = gen.make_tables(os.path.join(work, "tables"), seed)
        bins = gen.make_bins(seed, BASE_ROIS + DELTA_ROIS)
        self.base, self.delta = bins[: len(BASE_ROIS)], bins[len(BASE_ROIS):]
        self.csv_dir = os.path.join(work, "sensors")
        self.stream_rows = gen.make_sensor_csvs(self.csv_dir, seed, SENSOR_FILES, SENSOR_ROWS)
        self.rois = {"full": sum(n for _, n in self.base), "delta": sum(n for _, n in self.delta)}

    def summary(self, per_op: dict[str, float]) -> dict[str, float]:
        """Each figure whose operation succeeded."""
        out = {}
        if "full_tick" in per_op:
            out["ingest_rois_per_s"] = self.rois["full"] / per_op["full_tick"]
        if "stream_tick" in per_op:
            out["stream_rows_per_s"] = self.stream_rows / per_op["stream_tick"]
        for name, op in (("delta_tick_s", "delta_tick"), ("shark_delivery_s", "shark_delivery"),
                         ("plans.noop_tick_s", "noop_tick")):
            if op in per_op:
                out[name] = per_op[op]
        return out

    def _bins_df(self, rows):
        return self.ctx.spark.createDataFrame(rows, "sample string, n_rois int")

    def _tick(self, bins_df, d: str) -> dict:
        from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick

        with self.tr.span("plans", "ingest_tick"):
            return ingest_tick(self.ctx.spark, bins_df, f"{d}/ckpt", f"{d}/out")

    def _stream(self, in_dir: str, d: str) -> bool:
        from ifcb_data_pipeline_spark.plans.streaming_ingest import run_streaming_tick

        listener = self.ctx.listener
        known = set(listener.runs) if listener else set()
        with self.tr.span("plans", "run_streaming_tick") as span:
            ok = run_streaming_tick(self.ctx.spark, in_dir, f"{d}/stream_out", f"{d}/stream_ckpt")
            if listener:
                span["stream_runs"] = listener.wait_terminated(known)
        return ok

    def _deliver(self, d: str) -> str:
        from ifcb_data_pipeline_spark.plans.shark_mapping import shark_mapping
        from ifcb_data_pipeline_spark.sources.sinks import write_delivery_tsv

        with self.tr.span("queries", "p1_shark_export"):
            self.flagship = self.ctx.registry["p1_shark_export"].fn(self.ctx.spark, self.tables)
        with self.tr.span("plans", "shark_mapping"):
            shark = shark_mapping(self.flagship)
        with self.tr.span("sources", "write_delivery_tsv") as span:
            path = write_delivery_tsv(shark, f"{d}/shark.tsv")
            span["bytes"] = os.path.getsize(path)
        return path

    def run_pass(self, i: int) -> dict[str, float]:
        d = os.path.join(self.ctx.work, f"pass{i}")
        base_df, all_df = self._bins_df(self.base), self._bins_df(self.base + self.delta)
        times: dict[str, float] = {}
        expect = {
            "full_tick": (base_df, len(self.base), self.rois["full"]),
            "noop_tick": (base_df, 0, 0),
            "delta_tick": (all_df, len(self.delta), self.rois["delta"]),
        }
        for op, (df, n_bins, n_rois) in expect.items():
            got = self._op(op, lambda df=df: self._tick(df, d), times)
            if got is None:
                continue
            if (got["bins"], got["rois"]) != (n_bins, n_rois) or (
                n_bins == 0 and got != _ZERO_TICK
            ):
                self._fail(op, f"counters {got}, expected bins={n_bins} rois={n_rois}")
        if self._op("stream_tick", lambda: self._stream(self.csv_dir, d), times) is False:
            self._fail("stream_tick", "trigger did not drain within its timeout")
        self.tsv = self._op("shark_delivery", lambda: self._deliver(d), times)
        self.last_pass_dir = d
        return times

    def check(self) -> None:
        """The last pass's streaming output equals the batch twin, and its
        SHARK TSV has the delivery header and one row per flagship row."""
        from ifcb_data_pipeline_spark.plans.shark_mapping import SHARK_COLUMNS
        from ifcb_data_pipeline_spark.plans.streaming_ingest import batch_twin

        spark, d = self.ctx.spark, self.last_pass_dir
        cols = ["window_start", "sensor", "n", "value_cents"]

        def stream_matches_twin() -> str | None:
            parts = glob.glob(os.path.join(d, "stream_out", "**", "*.parquet"), recursive=True)
            got = sorted(spark.read.parquet(f"{d}/stream_out").select(*cols).collect()) if parts else []
            want = sorted(batch_twin(spark, self.csv_dir).select(*cols).collect())
            if not want or got != want:
                return f"{len(got)} streamed windows vs {len(want)} batch-twin windows"
            return None

        def tsv_matches_flagship() -> str | None:
            if self.tsv is None:
                return "no TSV was written"
            n_flagship = self.flagship.count()
            with open(self.tsv) as fh:
                header = fh.readline().rstrip("\n").split("\t")
                n_rows = sum(1 for _ in fh)
            if header != SHARK_COLUMNS or n_rows != n_flagship:
                return f"header {header[:3]}..., {n_rows} rows vs {n_flagship} flagship rows"
            return None

        for name, fn in (("stream_vs_batch_twin", stream_matches_twin), ("shark_tsv", tsv_matches_flagship)):
            self.attempted += 1
            try:
                with self.tr.span("check", name):
                    why = fn()
            except Exception:
                why = traceback.format_exc()
            if why:
                self._fail(f"{name} check", why)


WORKLOADS = {"headline_sf0.001": Headline, "ingest_export": IngestExport}
