"""Composed-plan tests: SHARK mapping contract, EcoTaxa export, and the
incremental ingest+QC job (SURVEY §3.1-3.2 shapes)."""

from __future__ import annotations

import glob
import math
import os
import struct
import tempfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.kernels import (
    FEATURE_ROIS_PER_TASK,
    features_from_images,
)
from ifcb_data_pipeline_spark.operators.multimodal import explode_bins_to_rois
from ifcb_data_pipeline_spark.plans import ingest_qc
from ifcb_data_pipeline_spark.plans.ecotaxa_export import (
    to_ecotaxa_rows,
    write_ecotaxa,
)
from ifcb_data_pipeline_spark.plans.ingest_qc import ingest_tick
from ifcb_data_pipeline_spark.plans.shark_mapping import (
    SHARK_COLUMNS,
    shark_mapping,
)
from ifcb_data_pipeline_spark.queries import load_all

REGISTRY = load_all()


def test_shark_mapping_contract(spark, sf_dir):
    flagship = REGISTRY["p1_shark_export"].fn(spark, sf_dir)
    shark = shark_mapping(flagship)
    assert shark.columns == SHARK_COLUMNS
    row = shark.first()
    assert row["PLATFORM_CODE"] == "IFCB" and row["ORDERER"] == "SMHI"
    assert row["MYEAR"] == row["SDATE"][:4]
    assert shark.count() == flagship.count()


def test_ecotaxa_export_double_header(spark):
    per_roi = spark.createDataFrame(
        [
            ("D20240423T115846_IFCB127", 1, 57.1, 11.2, "2024-04-23", "11:58:46",
             120.5, 900.1, "Beads"),
            ("D20240423T115846_IFCB127", 2, 57.1, 11.2, "2024-04-23", "11:58:46",
             80.0, 500.0, "Diatoms"),
        ],
        "sample string, roi_number int, lat double, lon double, sdate string,"
        " stime string, area double, biovolume double, class string",
    )
    rows = to_ecotaxa_rows(per_roi)
    assert rows.first()["img_file_name"].endswith("_00001")
    with tempfile.TemporaryDirectory() as tmp:
        out = write_ecotaxa(rows, f"{tmp}/ecotaxa")
        parts = glob.glob(os.path.join(out, "*", "part-*.csv"))
        assert len(parts) >= 2
        head = open(parts[0]).read().split("\n")[:2]
        assert head[0].startswith("img_file_name\t")
        assert head[1].startswith("[t]\t")


def test_ingest_tick_incremental(spark):
    bins = spark.createDataFrame(
        [(str(i), (i % 7) + 3) for i in range(1, 9)], "sample string, n_rois int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"
        r1 = ingest_tick(spark, bins, ckpt, out)
        assert r1["bins"] == 8
        assert r1["rois"] == sum((i % 7) + 3 for i in range(1, 9))
        # Idempotent second tick.
        r2 = ingest_tick(spark, bins, ckpt, out)
        assert r2 == {"bins": 0, "rois": 0, "psd_flagged": 0}
        # A new delivery processes only the new bin.
        more = bins.unionByName(
            spark.createDataFrame([("99", 5)], "sample string, n_rois int")
        )
        r3 = ingest_tick(spark, more, ckpt, out)
        assert r3["bins"] == 1 and r3["rois"] == 5
        feats = spark.read.parquet(f"{out}/features")
        assert feats.count() == r1["rois"] + 5
        assert feats.select("sample").distinct().count() == 9


def _bits(v):
    """Row value with every float as its IEEE bytes, arrays included."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return tuple(_bits(x) for x in v)
    return v


def _feature_bits(df):
    return sorted(tuple(_bits(v) for v in row) for row in df.collect())


def test_ingest_tick_spreads_kernel_bit_identically(spark, monkeypatch):
    """The tick sizes its expansion for the full kernel chain: a 6-bin,
    130-ROI tick runs min(parallelism, 6, ⌈130/64⌉) tasks and writes the
    features the default-width expansion computes, bit for bit; a 1-bin
    delta tick stays at one task."""
    widths = []

    def recording(bins, **kw):
        rois = explode_bins_to_rois(bins, **kw)
        widths.append(rois.rdd.getNumPartitions())
        return rois

    monkeypatch.setattr(ingest_qc, "explode_bins_to_rois", recording)
    counts = [20, 24, 26, 22, 18, 20]
    bins = spark.createDataFrame(
        [(str(i), n) for i, n in enumerate(counts, 1)], "sample string, n_rois int"
    )
    expected = min(
        spark.sparkContext.defaultParallelism,
        len(counts),
        math.ceil(sum(counts) / FEATURE_ROIS_PER_TASK),
    )
    if expected < 2:
        pytest.skip("a session with one core cannot spread the expansion")
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"
        r1 = ingest_tick(spark, bins, ckpt, out)
        assert r1["rois"] == sum(counts)
        assert widths == [expected]
        reference = features_from_images(explode_bins_to_rois(bins))
        assert reference.rdd.getNumPartitions() == 1
        written = spark.read.parquet(f"{out}/features")
        assert written.columns == reference.columns
        assert _feature_bits(written) == _feature_bits(reference)

        more = bins.unionByName(
            spark.createDataFrame([("99", 22)], "sample string, n_rois int")
        )
        r2 = ingest_tick(spark, more, ckpt, out)
        assert r2["bins"] == 1 and r2["rois"] == 22
        assert widths == [expected, 1]


def test_ingest_tick_corrupt_ledger_raises_and_appends_nothing(spark):
    """Only a missing ledger reads as empty: a corrupt one must fail the
    tick, not re-append every bin's features."""
    bins = spark.createDataFrame([("1", 3)], "sample string, n_rois int")
    with tempfile.TemporaryDirectory() as tmp:
        ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"
        os.makedirs(f"{ckpt}/ledger")
        with open(f"{ckpt}/ledger/part-0.parquet", "wb") as fh:
            fh.write(b"not a parquet file")
        with pytest.raises(Py4JJavaError):
            ingest_tick(spark, bins, ckpt, out)
        assert not os.path.exists(out)


def test_ingest_tick_releases_caches_when_a_write_fails(spark):
    """A failed write leaves none of the tick's cached frames pinned in
    the session."""
    bins = spark.createDataFrame([("1", 3)], "sample string, n_rois int")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = persisted()
    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/out"
        os.makedirs(out)
        with open(f"{out}/features", "w") as fh:  # a file where the table goes
            fh.write("x")
        with pytest.raises(Py4JJavaError):
            ingest_tick(spark, bins, f"{tmp}/ckpt", out)
        assert not os.path.exists(f"{tmp}/ckpt/ledger")
    assert not persisted() - before
