"""Summary-forecast pieces (SURVEY.md §3 E1 steps 5-7).

Parity with reference databricks/glofas-forecast-computation.py:179-242:
control extraction, the 3-way (tendency ⋈ intensity ⋈ peak-timing) join, the
gray-cell filter, and the restriction of the detailed product to summary
cells.  The daily pipeline computes control and the three classifiers in
one per-cell aggregate instead (plans/daily_pipeline.py); the control and
the join stay here for callers that compose the classifiers themselves.

The restriction join is an explicit `left_semi` (the reference spells it
select(lat,lon) + inner join, :240-242 — identical semantics because
summary is 1 row/cell, but semi-join states intent and lets the optimizer
drop the payload columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def control_from_detailed(detailed_df: DataFrame) -> DataFrame:
    """USE_FIRST_AS_CONTROL mode: the step-1 median is the control discharge
    (reference glofas-forecast-computation.py:179-183)."""
    return (detailed_df
            .filter(F.col("step") == 1)
            .select("latitude", "longitude",
                    F.col("median_dis").alias("control_dis")))


def normalize_control(control_raw: DataFrame, precision: int | None = None) -> DataFrame:
    """External-control mode (reference :186-191): round keys, rename
    dis24 → control_dis, drop forecast bookkeeping columns."""
    from flood_data_spark.functions.keys import round_keys
    keep = control_raw.withColumnRenamed("dis24", "control_dis")
    for c in ("step", "number", "time", "valid_time"):
        if c in keep.columns:
            keep = keep.drop(c)
    return round_keys(keep, precision)


def assemble_summary(tendency_df: DataFrame,
                     intensity_df: DataFrame,
                     peak_timing_df: DataFrame,
                     drop_gray: bool = True,
                     intensities: dict | None = None,
                     key_cols=("latitude", "longitude")) -> DataFrame:
    """Inner 3-way equi-join on the cell key — 1:1 per cell — then drop
    cells with no relevant flood signal (intensity == gray)."""
    c = intensities or DEFAULT_CONFIG.intensities
    keys = list(key_cols)
    summary = (
        peak_timing_df
        .join(tendency_df, on=keys, how="inner")
        .join(intensity_df, on=keys, how="inner")
    )
    if drop_gray:
        summary = summary.filter(F.col("intensity") != c["gray"])
    return summary


def restrict_detailed_to_summary(detailed_df: DataFrame,
                                 summary_df: DataFrame) -> DataFrame:
    """Keep only detailed rows for cells present in the summary product."""
    return detailed_df.join(
        summary_df.select("latitude", "longitude"),
        on=["latitude", "longitude"], how="left_semi")
