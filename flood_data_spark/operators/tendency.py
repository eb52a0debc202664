"""Flood tendency classification (SURVEY.md §2.4 A2 + §2.8 when-ladder).

Parity with reference flood/spark/transforms.py:4-29 (`compute_flood_tendency`):
per cell, aggregate the detailed forecast over all lead-time steps, then
classify against the control discharge:

- increasing ('U'):  max(median_dis) >  1.10 * control_dis
- decreasing ('D'):  min(median_dis) <= 0.90 * control_dis
                     AND max(median_dis) <= 1.10 * control_dis
- stagnant  ('C'):  otherwise

Determinism note: the reference uses F.first('control_dis'), which is only
safe because control_dis is constant within a cell (transforms.py:13; risk
flagged in SURVEY §7.5).  We use F.min — identical under the constancy
invariant, and deterministic even if it is violated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def tendency_columns(control="control_dis", tendencies: dict | None = None,
                     up_factor: float | None = None,
                     down_factor: float | None = None,
                     col_name: str = "tendency") -> list:
    """The per-cell aggregates, then the ladder over them: columns for one
    `groupBy(cell).agg`.  The control discharge is the per-cell minimum of
    `control` (a column name or expression)."""
    t = tendencies or DEFAULT_CONFIG.tendencies
    up = up_factor if up_factor is not None else DEFAULT_CONFIG.tendency_up_factor
    down = down_factor if down_factor is not None else DEFAULT_CONFIG.tendency_down_factor
    hi, lo, ctl = F.max("median_dis"), F.min("median_dis"), F.min(control)
    label = (F.when(hi > ctl * up, t["increasing"])
              .when((lo <= ctl * down) & (hi <= ctl * up), t["decreasing"])
              .otherwise(t["stagnant"]))
    return [hi.alias("max_median_dis"), lo.alias("min_median_dis"),
            ctl.alias("control_dis"), F.max("max_dis").alias("max_max_dis"),
            F.min("min_dis").alias("min_min_dis"), label.alias(col_name)]


def flood_tendency(detailed_with_control: DataFrame,
                   tendencies: dict | None = None,
                   up_factor: float | None = None,
                   down_factor: float | None = None,
                   col_name: str = "tendency",
                   key_cols=("latitude", "longitude")) -> DataFrame:
    return detailed_with_control.groupBy(*key_cols).agg(*tendency_columns(
        "control_dis", tendencies, up_factor, down_factor, col_name))
