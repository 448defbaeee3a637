"""Tests of the event-log parser against a log Spark writes during the
test, from registry queries over generated sf0.001 tables.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

QUERIES = {"g-p1": "p1_shark_export", "g-mm9": "mm9_perceptual_dedup"}


def test_union_seconds_merges_overlapping_intervals():
    assert eventlog.union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog.union_seconds([]) == 0.0


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """An event log with one job group per query and one job in no group,
    plus the job count Spark's status tracker reports for each group."""
    work = str(tmp_path_factory.mktemp("work"))
    tables = gen.make_tables(os.path.join(work, "tables"), seed=7)
    run._configure_environment(work, trace=True)
    from ifcb_data_pipeline_spark.queries import load_all
    from ifcb_data_pipeline_spark.session import get_spark

    registry = load_all()
    spark = get_spark("perfbench-test", cpus=2)
    sc = spark.sparkContext
    jobs = {}
    try:
        for group, name in QUERIES.items():
            sc.setLocalProperty("spark.jobGroup.id", group)
            registry[name].fn(spark, tables).write.format("noop").mode("overwrite").save()
            jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        run._stop_session(spark)
    (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
    return log, jobs


def test_jobs_per_group_match_the_status_tracker(traced):
    log, jobs = traced
    parsed = eventlog.parse(log)
    for group, n in jobs.items():
        row = parsed["spans"][group]
        assert n > 0 and row["jobs"] == n
        assert 1 <= row["stages"] <= row["tasks"]
        assert row["executor_run_s"] > 0
    assert parsed["unowned"]["jobs"] >= 1


def test_operator_metrics_land_on_the_query_that_ran_them(traced):
    log, _ = traced
    spans = eventlog.parse(log)["spans"]
    assert spans["g-mm9"]["python_worker_s"] > 0
    assert spans["g-p1"]["python_worker_s"] == 0
    assert spans["g-p1"]["scan_s"] > 0 and spans["g-p1"]["agg_build_s"] > 0


def test_aliases_fold_a_foreign_group_into_a_span(traced):
    log, jobs = traced
    parsed = eventlog.parse(log, aliases={"g-mm9": "g-p1"})
    assert "g-mm9" not in parsed["spans"]
    assert parsed["spans"]["g-p1"]["jobs"] == jobs["g-p1"] + jobs["g-mm9"]


def test_fold_counts_overlapping_job_time_once(traced):
    log, _ = traced
    rows = list(eventlog.parse(log)["spans"].values())
    each = sum(eventlog.fold([r])["job_s"] for r in rows)
    both = eventlog.fold(rows)
    assert 0 < both["job_s"] <= each + 1e-9
    assert both["jobs"] == sum(r["jobs"] for r in rows)
