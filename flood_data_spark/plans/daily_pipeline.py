"""The flagship end-to-end query: daily flood-forecast computation.

Re-expresses reference entry point E1 (databricks/glofas-forecast-computation.py,
SURVEY.md §3) as one composable pipeline over DataFrames:

  forecast ─ round keys / normalize times
      │
      ├─⋈ thresholds (broadcast) ─ exceedance + 5-number agg → detailed  [cache]
      │                                                         │
      │   one groupBy(lat, lon): control (step-1 median         │
      │   | external, left-joined first), tendency, intensity,  │
      │   peak timing (struct argmax) ←─────────────────────────┘
      │                      │
      └────── left_semi ◄─ summary (drop null keys and gray, add WKT)
                               │
               detailed' + summary ─ sort by (issued_on, lat, lon) → sinks

Plan-shape notes vs the reference (SURVEY §4):
- no manual repartition(100, lat, lon): AQE + broadcast thresholds leave a
  single (lat,lon,...)-keyed exchange feeding the detailed agg; the summary
  is one more (lat, lon) exchange of per-cell partials, where the
  reference's three classifiers and their joins each shuffle;
- `.cache()` of the detailed product is kept (feeds the summary aggregate
  and the restricted detailed product, reference :169);
- exact/approx percentile switch surfaced (exact for oracle parity);
- both products end in the reference's sort before save
  (threshold-data-joining.py:120), led by the run's one issued_on: one
  range exchange each, whose sample runs with the write, so every file and
  row group of a written product covers a narrow latitude band and a
  lookup's range predicate skips the rest.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG, EngineConfig
from flood_data_spark.functions.geometry import add_geometry
from flood_data_spark.operators.intensity import intensity_columns
from flood_data_spark.operators.peak_timing import peak_timing_columns
from flood_data_spark.operators.summary import restrict_detailed_to_summary
from flood_data_spark.operators.tendency import tendency_columns
from flood_data_spark.operators.threshold import ensemble_threshold_summary
from flood_data_spark.plans.checks import assert_daily_counts


@dataclass
class DailyProducts:
    detailed: DataFrame
    summary: DataFrame
    # the QA counts observed by run(run_checks=True), keyed by
    # _CHECK_COUNTS (see plans.checks.assert_daily_counts), else None
    checks: dict | None = None


_CHECK_COUNTS = ("forecast_rows", "forecast_null_keys", "threshold_null_keys",
                 "join_rows", "matched_rows")


def _observed(obs: Observation) -> dict:
    """The observation's metrics, or {} when its subtree never ran: adaptive
    execution drops a plan branch it finds empty at runtime, and the
    Observation then completes with an empty row (an empty day, where
    every count is 0)."""
    return obs.get if obs._jo.getRow().length() else {}


def _null_keys():
    return F.count_if(F.col("latitude").isNull() | F.col("longitude").isNull())


class DailyForecastPipeline:
    def __init__(self, config: EngineConfig | None = None,
                 accuracy_mode: str = "approx"):
        self.config = config or DEFAULT_CONFIG
        self.accuracy_mode = accuracy_mode

    def run(self, forecast_df: DataFrame, threshold_df: DataFrame,
            control_df: DataFrame | None = None,
            run_checks: bool = False) -> DailyProducts:
        """forecast + thresholds (+ optional external control) → the two
        published products.  Inputs must already be key-rounded (see
        sources.parquet.read_forecast / read_thresholds).

        run_checks=True adds the reference's runtime QA invariants
        (threshold-data-joining.py:84-100 pattern) as `Observation`s on
        the detailed product's own plan: rows in and null keys on the
        forecast scan, null keys on the threshold side, rows out of the
        forecast ⋈ thresholds join and how many matched a threshold.  One
        action fills the detailed cache (the writes reuse it) and reports
        them; plans.checks.assert_daily_counts raises PipelineCheckError
        on a null key, the §1.4 empty-join tripwire or a join fan-out (a
        duplicated threshold cell).  The counts come back on
        DailyProducts.checks.  Without checks, building fires no job.
        """
        cfg = self.config
        observed = {}
        if run_checks:
            observed = {side: Observation()
                        for side in ("forecast", "thresholds", "join")}
            forecast_df = forecast_df.observe(
                observed["forecast"],
                F.count(F.lit(1)).alias("forecast_rows"),
                _null_keys().alias("forecast_null_keys"))
            threshold_df = threshold_df.observe(
                observed["thresholds"],
                _null_keys().alias("threshold_null_keys"))

        detailed = ensemble_threshold_summary(
            forecast_df, threshold_df,
            threshold_years=cfg.threshold_years,
            accuracy_mode=self.accuracy_mode,
            observation=observed.get("join")).cache()

        checks = None
        if run_checks:
            # the one check action: it fills the cache with the detailed
            # product the writes would compute anyway (a noop write, one
            # job fewer than count()), and Observation.get blocks until it
            # has run.  The threshold side reports through its broadcast,
            # the others through the cached relation.
            detailed.write.format("noop").mode("overwrite").save()
            checks = dict.fromkeys(_CHECK_COUNTS, 0)
            for obs in observed.values():
                checks.update(_observed(obs))
            assert_daily_counts(checks)

        keys = ["latitude", "longitude"]
        cells = detailed
        if control_df is None:
            if not cfg.use_first_as_control:
                raise ValueError(
                    "config.use_first_as_control is False but no external "
                    "control DataFrame was provided")
            control = F.when(F.col("step") == 1, F.col("median_dis"))
        else:
            cells = detailed.join(control_df.select(*keys, "control_dis"),
                                  on=keys, how="left")
            control = "control_dis"

        # one aggregate per cell; a null key matches no cell, as in the
        # reference's joins
        summary = (
            cells.filter(F.col("latitude").isNotNull()
                         & F.col("longitude").isNotNull())
            .groupBy(*keys)
            .agg(*peak_timing_columns(cfg.peak_timings,
                                      cfg.intensity_prob_threshold,
                                      cfg.peak_early_window,
                                      cfg.peak_black_border_window),
                 *tendency_columns(control, cfg.tendencies,
                                   cfg.tendency_up_factor,
                                   cfg.tendency_down_factor),
                 *intensity_columns(cfg.intensities,
                                    cfg.intensity_prob_threshold))
            .filter(F.col("intensity") != cfg.intensities["gray"]))
        summary = add_geometry(summary, cfg.half_grid_size, cfg.precision)

        detailed_out = add_geometry(detailed, cfg.half_grid_size, cfg.precision)
        detailed_out = restrict_detailed_to_summary(detailed_out, summary)

        # issued_on (one value per run) leads: a write partitioned by it
        # (upsert_partitions) then needs no sort of its own.  The local sort
        # Spark adds otherwise makes the optimizer drop this sort's order
        # and keep only its range partitioning.
        order = ("issued_on", "latitude", "longitude")
        return DailyProducts(detailed=detailed_out.orderBy(*order),
                             summary=summary.orderBy(*order), checks=checks)
