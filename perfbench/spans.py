"""Spans around the benchmark's calls into each layer of the package.

A span is recorded at each layer boundary the benchmark crosses: a
registry query's construction (``queries``), its execution to the noop
sink (``engine``), a table load or a delivery write (``sources``), a
plan call (``plans``).  Before a span's body runs, the Spark job group
is set to the span's id, so the event log ties every job to the span
that caused it.  Spans stay in memory and are written out when the run
ends.  With tracing off every span is a no-op.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.phase = "setup"

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb{next(self._ids)}-{layer}",
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "phase": self.phase,
        }
        self._stack.append(rec)
        self._sc.setLocalProperty(_JOB_GROUP, rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            self._sc.setLocalProperty(_JOB_GROUP, parent["id"] if parent else None)

    def wrap(self, layer: str, fn):
        """``fn`` with a span around every call, named after ``fn``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced


def install_source_spans(tracer: Tracer) -> None:
    """Span every table load the registry queries make: they all go
    through ``queries._util``'s reference to ``sources.tables.load_table``."""
    from ifcb_data_pipeline_spark.queries import _util

    _util.load_table = tracer.wrap("sources", _util.load_table)


def stream_listener(spark):
    """A ``StreamingQueryListener`` that keeps each query's run id and its
    progress reports (batch duration, input rows, state rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.runs: dict[str, list[dict]] = {}
            self.terminated: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            with self._cv:
                self.runs.setdefault(str(event.runId), [])
                self._cv.notify_all()

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.runs.setdefault(str(p.runId), []).append(
                    {
                        "batch_id": p.batchId,
                        "batch_s": p.batchDuration / 1000.0,
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated.add(str(event.runId))
                self._cv.notify_all()

        def wait_terminated(self, known: set[str]) -> list[str]:
            """Run ids started since ``known``, once at least one has been
            seen and each has terminated (listener events arrive late), or
            after ten seconds."""

            def done():
                new = set(self.runs) - known
                return bool(new) and new <= self.terminated

            with self._cv:
                self._cv.wait_for(done, 10.0)
                return sorted(set(self.runs) - known)

    listener = Listener()
    spark.streams.addListener(listener)
    return listener
