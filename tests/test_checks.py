"""Pipeline QA check tests (SURVEY A5 parity) + compaction utility."""

import pytest
from pyspark.sql import functions as F

from flood_data_spark.plans.checks import PipelineCheckError, assert_unique_key
from flood_data_spark.plans.scale import compact_partition


def test_unique_key(spark):
    ok = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    assert_unique_key(ok, "k")
    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)], "k long, v double")
    with pytest.raises(PipelineCheckError, match="duplicate key"):
        assert_unique_key(dup, "k")


def test_compact_partition_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(4000).select(
        (F.col("id") % 50 * 0.05).alias("latitude"),
        F.lit(0.025).alias("longitude"),
        F.col("id").alias("v")) \
        .repartition(40).write.parquet(path)
    import glob
    assert len(glob.glob(path + "/*.parquet")) == 40
    n = compact_partition(spark, path, target_file_bytes=10 * 1024 * 1024)
    files = glob.glob(path + "/*.parquet")
    assert len(files) == n == 1
    back = spark.read.parquet(path)
    assert back.count() == 4000
    assert back.agg(F.sum("v")).first()[0] == sum(range(4000))


def _checks_day(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(31)
    n = 300
    forecast = spark.createDataFrame(pd.DataFrame({
        "latitude": np.round(0.025 + rng.integers(0, 5, n) * 0.05, 3),
        "longitude": np.round(0.025 + rng.integers(0, 5, n) * 0.05, 3),
        "issued_on": pd.Timestamp("2024-01-01").date(),
        "valid_for": pd.Timestamp("2024-01-02").date(),
        "step": rng.integers(1, 11, n).astype("int32"),
        "dis24": rng.gamma(2.0, 60.0, n).astype("float32")}))
    thresholds = spark.createDataFrame(pd.DataFrame({
        "latitude": np.round(0.025 + np.arange(5).repeat(5) * 0.05, 3),
        "longitude": np.round(0.025 + np.tile(np.arange(5), 5) * 0.05, 3),
        "threshold_2y": 80.0, "threshold_5y": 160.0, "threshold_20y": 300.0}))
    return forecast, thresholds


def _run_checked(forecast, thresholds):
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline

    return DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds, run_checks=True)


def _null_key_row(df, key):
    return df.unionByName(
        df.limit(1).withColumn(key, F.lit(None).cast("double")))


def test_pipeline_run_checks_flag(spark):
    forecast, thresholds = _checks_day(spark)

    # green path: checks pass silently and the observed counts come back
    products = _run_checked(forecast, thresholds)
    assert products.summary.count() > 0
    assert products.checks == {
        "forecast_rows": 300, "forecast_null_keys": 0,
        "threshold_null_keys": 0, "join_rows": 300, "matched_rows": 300}

    # un-rounded keys on one side: the §1.4 tripwire fires
    drifted = forecast.withColumn(
        "latitude", F.col("latitude") + F.lit(1e-7))
    with pytest.raises(PipelineCheckError, match="0 rows"):
        _run_checked(drifted, thresholds.withColumn(
            "latitude", F.col("latitude") - F.lit(1e-7)))


def test_pipeline_checks_catch_duplicate_threshold_cell(spark):
    """A threshold cell listed twice doubles that cell's forecast rows
    through the LEFT join and skews its p_above_*; the summary stays
    1 row/cell, so only the join's row count shows it."""
    forecast, thresholds = _checks_day(spark)
    planted = thresholds.unionByName(thresholds.limit(1))
    with pytest.raises(PipelineCheckError, match="fan-out"):
        _run_checked(forecast, planted)


@pytest.mark.parametrize("side", ["forecast", "threshold"])
def test_pipeline_checks_catch_null_keys(spark, side):
    forecast, thresholds = _checks_day(spark)
    if side == "forecast":
        forecast = _null_key_row(forecast, "latitude")
    else:
        thresholds = _null_key_row(thresholds, "longitude")
    with pytest.raises(PipelineCheckError,
                       match=f"{side} input: null in required"):
        _run_checked(forecast, thresholds)


def test_pipeline_checks_pass_an_empty_day(spark):
    forecast, thresholds = _checks_day(spark)
    products = _run_checked(forecast.filter("latitude > 90"), thresholds)
    assert products.summary.count() == 0
    assert set(products.checks.values()) == {0}


def test_fast_table_count_metadata_only(spark, tmp_path):
    """fast_table_count must (a) agree with the row count, (b) run under a
    v2 scan whose plan shows the pushed COUNT aggregate, and (c) restore the
    session's v1 default afterwards."""
    from flood_data_spark.plans.checks import fast_table_count

    path = str(tmp_path / "t")
    spark.range(1234).write.parquet(path)

    before = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    assert fast_table_count(spark, path) == 1234
    assert spark.conf.get("spark.sql.sources.useV1SourceList",
                          None) == before

    # the pushed-aggregation claim, verified on the plan fast_table_count uses
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        plan = (spark.read.parquet(path).groupBy().count()
                ._jdf.queryExecution().executedPlan().toString())
        assert "PushedAggregation: [COUNT(*)]" in plan
    finally:
        spark.conf.unset("spark.sql.sources.useV1SourceList")
