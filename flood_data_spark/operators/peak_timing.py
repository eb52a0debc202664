"""Flood peak-timing classification (SURVEY.md §2.5 W1 + §2.4 A4 + §2.3 J2).

Parity with reference flood/spark/transforms.py:58-109
(`compute_flood_peak_timing`):

1. severity rank per (cell, step): 1 if p_above_20y >= 0.3, 2 if p_above_5y
   >= 0.3, 3 if p_above_2y >= 0.3, else 4;
2. peak step = argmax by (severity ASC, median_dis DESC) per cell;
   peak_day = that step's valid_for;
3. max_2y_start = max(p_above_2y) over the first 10 steps per cell;
4. label: 'BB' (black border) if peak_step in 1..3; 'GC' (grayed color) if
   peak_step > 10 AND max_2y_start < 0.30; else 'GB' (gray border).

Spark-first difference: the reference ranks with a row_number window and
joins a separate per-cell max_2y_start back to the detail (transforms.py:
61-71, its J2).  Here both are aggregates of one group-by: the peak row is
the max of a struct whose field order is the sort order (the argmax idiom
of operators/stats.py), so there is no window and no join, and the daily
pipeline folds it into one aggregate with tendency and intensity.

Determinism: the reference's ordering (severity, median_dis) is tie-broken
nondeterministically (SURVEY §7.3, reference comment transforms.py:92-95).
We append `step ASC` as a final deterministic tiebreaker — on ties the
earliest lead time wins.  The struct orders exactly as ORDER BY condition
ASC, median_dis DESC NULLS LAST, step ASC NULLS FIRST: a NaN median sorts
first, a null median loses and a null step wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def severity_rank(prob_threshold: float = 0.30):
    """1 (worst) .. 4 (none) from the exceedance-probability ladder."""
    return (
        F.when(F.col("p_above_20y") >= prob_threshold, F.lit(1))
         .when(F.col("p_above_5y") >= prob_threshold, F.lit(2))
         .when(F.col("p_above_2y") >= prob_threshold, F.lit(3))
         .otherwise(F.lit(4))
    )


def peak_timing_columns(peak_timings: dict | None = None,
                        prob_threshold: float | None = None,
                        early_window: tuple | None = None,
                        black_border_window: tuple | None = None,
                        col_name: str = "peak_timing",
                        carry_cols=("issued_on",)) -> list:
    """The carried columns, step and valid_for of each cell's peak row,
    then the ladder over them and the early-window max of p_above_2y:
    columns for one `groupBy(cell).agg`."""
    labels = peak_timings or DEFAULT_CONFIG.peak_timings
    bar = (prob_threshold if prob_threshold is not None
           else DEFAULT_CONFIG.intensity_prob_threshold)
    early_lo, early_hi = early_window or DEFAULT_CONFIG.peak_early_window
    bb_lo, bb_hi = black_border_window or DEFAULT_CONFIG.peak_black_border_window
    step = F.col("step")
    peak = F.max(F.struct(
        (-severity_rank(bar)).alias("_severity"), "median_dis",
        step.isNull().alias("_null_step"), (-step).alias("_neg_step"),
        *carry_cols, step, "valid_for"))
    max_2y_start = F.max(F.when(step.between(early_lo, early_hi),
                                F.col("p_above_2y")))
    label = (F.when(peak["step"].between(bb_lo, bb_hi), labels["black_border"])
              .when((peak["step"] > early_hi) & (max_2y_start < bar),
                    labels["grayed_color"])
              .otherwise(labels["gray_border"]))
    return [*(peak[c].alias(c) for c in carry_cols),
            peak["step"].alias("peak_step"),
            peak["valid_for"].alias("peak_day"), label.alias(col_name)]


def flood_peak_timing(detailed_df: DataFrame,
                      peak_timings: dict | None = None,
                      prob_threshold: float | None = None,
                      early_window: tuple | None = None,
                      black_border_window: tuple | None = None,
                      col_name: str = "peak_timing",
                      key_cols=("latitude", "longitude"),
                      carry_cols=("issued_on",)) -> DataFrame:
    return detailed_df.groupBy(*key_cols).agg(*peak_timing_columns(
        peak_timings, prob_threshold, early_window, black_border_window,
        col_name, carry_cols))
