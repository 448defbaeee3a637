"""Composed incremental ingest + QC job — SURVEY §3.2
(``code/ifcb_ingest_and_qc.R``).

One tick:  list bins → size gates (F9) → anti-join work queue (I2) →
bin→ROI expansion + feature kernel (S2/U1-U12, stub decode) → PSD fit +
flags (U13) → append feature/psd outputs + ledger (I4).  Re-runs are
idempotent; a new delivery of bins processes only the new bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kernels import FEATURE_ROIS_PER_TASK, features_from_images
from ..operators.multimodal import explode_bins_to_rois
from ..operators.psd import PROFILE_INGEST, psd_flags, psd_powerlaw_fit, size_histogram
from ..streaming.incremental import CheckpointedJob

#: Size-histogram bin width (pixels of EquivDiameter) of the tick's PSD.
_PSD_BIN_WIDTH = 2.0


def ingest_tick(
    spark: SparkSession,
    bins: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
) -> dict[str, int]:
    """Process unseen bins; returns counters for the run report
    (the reference prints these in its knit summary, Rmd:1606-1618).

    The bin→ROI expansion is sized for the full kernel chain
    (``FEATURE_ROIS_PER_TASK``), so a tick of a few hundred ROIs already
    spreads the chain over the cores.  Cached frames are released even
    when a step fails, so a long-lived session does not keep them."""
    job = CheckpointedJob(spark, checkpoint_dir, "sample")
    todo = job.pending(bins).cache()
    features = psd = None
    try:
        n_bins = todo.count()
        if n_bins == 0:
            return {"bins": 0, "rois": 0, "psd_flagged": 0}

        rois = explode_bins_to_rois(todo, rois_per_task=FEATURE_ROIS_PER_TASK)
        # Full U1-U12 kernel chain (real segmentation → geometry → biovolume);
        # the PSD stage consumes the resulting EquivDiameter like the
        # reference's feature→psd handoff (ifcb_ingest_and_qc.R:500-518).
        features = features_from_images(rois).cache()
        n_rois = features.count()
        features.write.mode("append").parquet(f"{output_dir}/features")

        hist = size_histogram(
            features.withColumn("sample_key", F.col("sample").cast("long")),
            "sample_key",
            "EquivDiameter",
            bin_width=_PSD_BIN_WIDTH,
        )
        # One row per sample: fit columns plus the flag; counted and
        # written from the one cached pass.
        psd = psd_flags(
            psd_powerlaw_fit(hist), PROFILE_INGEST, bin_width=_PSD_BIN_WIDTH
        ).cache()
        n_flagged = psd.where(F.col("flag").isNotNull()).count()
        psd.write.mode("append").parquet(f"{output_dir}/psd")

        job.mark_done(todo.select("sample"))
        return {"bins": n_bins, "rois": n_rois, "psd_flagged": n_flagged}
    finally:
        for df in (psd, features, todo):
            if df is not None:
                df.unpersist()
