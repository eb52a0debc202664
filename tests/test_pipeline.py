"""End-to-end daily pipeline test (reference E1,
glofas-forecast-computation.py) on a small synthetic day."""

import datetime

from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG as CFG
from flood_data_spark.functions.geometry import add_geometry
from flood_data_spark.operators import (
    assemble_summary,
    control_from_detailed,
    ensemble_threshold_summary,
    flood_intensity,
    flood_peak_timing,
    flood_tendency,
    restrict_detailed_to_summary,
)
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from flood_data_spark.schemas import SUMMARY_FORECAST_COLUMNS

D = datetime.date


def _day(spark):
    issued = D(2024, 1, 1)
    rows = []
    # hot cell: all members well above every threshold at step 2
    # cold cell: never above anything (gray → dropped from both outputs)
    for step in range(1, 11):
        valid = issued + datetime.timedelta(days=step - 1)
        for m in range(10):
            hot = 200.0 + 10 * m + (500.0 if step == 2 else 0.0)
            rows.append((m, 0.025, 0.025, issued, step, valid, hot))
            rows.append((m, 0.075, 0.025, issued, step, valid, 1.0 + 0.1 * m))
    forecast = spark.createDataFrame(
        rows, ["number", "latitude", "longitude", "issued_on", "step",
               "valid_for", "dis24"])
    thresholds = spark.createDataFrame(
        [(0.025, 0.025, 100.0, 150.0, 200.0),
         (0.075, 0.025, 100.0, 150.0, 200.0)],
        ["latitude", "longitude", "threshold_2y", "threshold_5y",
         "threshold_20y"])
    return forecast, thresholds


def test_daily_pipeline_products(spark):
    forecast, thresholds = _day(spark)
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds)

    summary = products.summary.collect()
    # only the hot cell survives the gray filter
    assert len(summary) == 1
    s = summary[0]
    assert (s.latitude, s.longitude) == (0.025, 0.025)
    assert s.intensity == "P"
    assert s.peak_step == 2 and s.peak_timing == "BB"
    assert s.peak_day == D(2024, 1, 2)
    assert s.tendency == "U"  # step-2 median blows past 1.1x step-1 control
    assert s.wkt.startswith("POLYGON ((")
    for col in SUMMARY_FORECAST_COLUMNS:
        assert col in products.summary.columns, col

    detailed = products.detailed
    # restricted to summary cells: 1 cell x 10 steps
    assert detailed.count() == 10
    assert {r.latitude for r in detailed.collect()} == {0.025}
    assert "wkt" in detailed.columns


def test_pipeline_with_external_control(spark):
    forecast, thresholds = _day(spark)
    control = spark.createDataFrame(
        [(0.025, 0.025, 10_000.0), (0.075, 0.025, 10_000.0)],
        ["latitude", "longitude", "control_dis"])
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds, control_df=control)
    s = products.summary.collect()[0]
    # vs a huge control, medians can only look decreasing
    assert s.tendency == "D"
    _assert_same_products(products, _composed(forecast, thresholds, control))


def _three_cells(spark):
    """_day plus a warm cell with no step-1 row, so its control is null."""
    forecast, thresholds = _day(spark)
    issued = D(2024, 1, 1)
    warm = spark.createDataFrame(
        [(m, 0.125, 0.025, issued, step,
          issued + datetime.timedelta(days=step - 1),
          120.0 + m + (60.0 if step == 12 else 0.0))
         for step in range(2, 16) for m in range(10)],
        forecast.schema)
    more = spark.createDataFrame([(0.125, 0.025, 100.0, 150.0, 200.0)],
                                 thresholds.schema)
    return forecast.unionByName(warm), thresholds.unionByName(more)


def _composed(forecast, thresholds, control=None):
    """Both products composed from the public per-classifier operators:
    three per-cell frames joined on the cell key."""
    detailed = ensemble_threshold_summary(forecast, thresholds,
                                          accuracy_mode="exact")
    keys = ["latitude", "longitude"]
    if control is None:
        control = control_from_detailed(detailed)
    summary = assemble_summary(
        flood_tendency(detailed.join(control, on=keys, how="left")),
        flood_intensity(detailed), flood_peak_timing(detailed))
    summary = add_geometry(summary, CFG.half_grid_size, CFG.precision)
    detailed = restrict_detailed_to_summary(
        add_geometry(detailed, CFG.half_grid_size, CFG.precision), summary)
    return detailed, summary


def _assert_same_products(products, composed):
    for got, want in zip((products.detailed, products.summary), composed):
        assert got.dtypes == want.dtypes
        assert sorted(got.collect(), key=repr) == \
            sorted(want.collect(), key=repr)


def test_pipeline_matches_composed_classifiers(spark):
    forecast, thresholds = _three_cells(spark)
    control = spark.createDataFrame([(0.025, 0.025, 150.0)],
                                    ["latitude", "longitude", "control_dis"])
    for ctl in (None, control):
        products = DailyForecastPipeline(accuracy_mode="exact").run(
            forecast, thresholds, control_df=ctl)
        composed = _composed(forecast, thresholds, ctl)
        _assert_same_products(products, composed)
        tendency = {r.latitude: (r.control_dis, r.tendency)
                    for r in products.summary.collect()}
        assert set(tendency) == {0.025, 0.125}
        assert tendency[0.125] == (None, "C")


def test_null_key_cell_absent_from_both_products(spark):
    forecast, thresholds = _day(spark)
    # a copy of the hot cell with a null latitude, then one with a null
    # longitude: neither may reach a product
    for key in ("latitude", "longitude"):
        nulled = forecast.filter(F.col("latitude") == 0.025) \
            .withColumn(key, F.lit(None).cast("double"))
        products = DailyForecastPipeline(accuracy_mode="exact").run(
            forecast.unionByName(nulled), thresholds, run_checks=False)
        for df in (products.detailed, products.summary):
            cells = {(r.latitude, r.longitude) for r in df.collect()}
            assert cells == {(0.025, 0.025)}, cells
