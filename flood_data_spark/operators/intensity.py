"""Flood intensity classification (SURVEY.md §2.4 A3 + ladder).

Parity with reference flood/spark/transforms.py:31-56
(`compute_flood_intensity`): per cell, take the max exceedance probability
over all steps for each return period, then pick the severest color whose
probability clears the 0.30 bar:

- purple 'P' if max p_above_20y >= 0.30
- red    'R' elif max p_above_5y >= 0.30
- yellow 'Y' elif max p_above_2y >= 0.30
- gray   'G' otherwise
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def intensity_columns(intensities: dict | None = None,
                      prob_threshold: float | None = None,
                      col_name: str = "intensity") -> list:
    """The per-cell aggregates, then the ladder over them: columns for one
    `groupBy(cell).agg`."""
    c = intensities or DEFAULT_CONFIG.intensities
    bar = (prob_threshold if prob_threshold is not None
           else DEFAULT_CONFIG.intensity_prob_threshold)
    p20, p5, p2 = (F.max(f"p_above_{y}") for y in ("20y", "5y", "2y"))
    label = (F.when(p20 >= bar, c["purple"]).when(p5 >= bar, c["red"])
              .when(p2 >= bar, c["yellow"]).otherwise(c["gray"]))
    return [p20.alias("max_p_above_20y"), p5.alias("max_p_above_5y"),
            p2.alias("max_p_above_2y"), label.alias(col_name)]


def flood_intensity(detailed_df: DataFrame,
                    intensities: dict | None = None,
                    prob_threshold: float | None = None,
                    col_name: str = "intensity",
                    key_cols=("latitude", "longitude")) -> DataFrame:
    return detailed_df.groupBy(*key_cols).agg(
        *intensity_columns(intensities, prob_threshold, col_name))
