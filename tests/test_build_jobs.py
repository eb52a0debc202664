"""Building an operator's DataFrame fires no Spark job: the caller names
the route (exact_impl, nbuckets), so the same plan runs unchanged as a
batch or an incremental query, and every job belongs to the action that
consumes the result."""

from pyspark.sql import functions as F

from flood_data_spark.operators.postprocess import quantile_map
from flood_data_spark.operators.threshold import ensemble_threshold_summary
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from tests.test_pipeline import _day
from tests.test_threshold import _forecast, _thresholds


def _jobs_during(spark, group, build):
    """Job ids that ran in `group` while `build()` returned a DataFrame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build only")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_operators_build_without_jobs(spark):
    fc, thr = _forecast(spark), _thresholds(spark)
    sim = spark.range(2000).select((F.col("id") % 3).alias("grp"),
                                   (F.col("id") % 89).cast("double")
                                   .alias("v"))
    obs = spark.range(1500).select((F.col("id") % 3).alias("grp"),
                                   (F.col("id") % 67).cast("double")
                                   .alias("v"))
    forecast, thresholds = _day(spark)
    builds = {
        f"threshold-{impl}": (
            lambda impl=impl: ensemble_threshold_summary(
                fc, thr, accuracy_mode="exact", exact_impl=impl))
        for impl in ("percentile", "ranks")}
    builds.update({
        f"quantile-map-{nb}": (
            lambda nb=nb: quantile_map(sim, obs, "v", ["grp"], nbuckets=nb))
        for nb in (None, 32)})
    builds["daily-pipeline"] = lambda: DailyForecastPipeline(
        accuracy_mode="exact").run(forecast, thresholds, run_checks=False)
    for name, build in builds.items():
        assert _jobs_during(spark, f"build-{name}", build) == [], name
