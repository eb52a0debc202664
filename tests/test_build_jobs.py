"""Building an operator's DataFrame fires no Spark job: the caller names
the route (nbuckets), so the same plan runs unchanged as a
batch or an incremental query, and every job belongs to the action that
consumes the result.  The daily pipeline's QA checks ride the jobs that
compute the products, a day's publish fires a pinned number of jobs, and
a repeated day reuses its compiled classes."""

from pyspark.sql import functions as F

from flood_data_spark.operators.postprocess import quantile_map
from flood_data_spark.operators.threshold import ensemble_threshold_summary
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from flood_data_spark.sources.parquet import write_parquet
from tests.test_pipeline import _day
from tests.test_threshold import _forecast, _thresholds


def _jobs_during(spark, group, build):
    """Job ids that ran in `group` while `build()` ran."""
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
    builds = {"threshold-exact": lambda: ensemble_threshold_summary(
        fc, thr, accuracy_mode="exact")}
    builds.update({
        f"quantile-map-{nb}": (
            lambda nb=nb: quantile_map(sim, obs, "v", ["grp"], nbuckets=nb))
        for nb in (None, 32)})
    builds["daily-pipeline"] = lambda: DailyForecastPipeline(
        accuracy_mode="exact").run(forecast, thresholds, run_checks=False)
    for name, build in builds.items():
        assert _jobs_during(spark, f"build-{name}", build) == [], name


def _publish_day(spark, out, run_checks):
    """One pipeline day and both writes, as the daily job runs them."""
    forecast, thresholds = _day(spark)
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds, run_checks=run_checks)
    write_parquet(products.detailed, str(out / "detailed"))
    write_parquet(products.summary, str(out / "summary"))


def test_checks_ride_the_products_jobs(spark, tmp_path):
    """The checks' one action fills the detailed cache the writes reuse,
    so checks on cost at most 2 jobs more than checks off."""
    jobs = {flag: len(_jobs_during(
        spark, f"day-checks-{flag}",
        lambda flag=flag: _publish_day(spark, tmp_path / str(flag), flag)))
        for flag in (False, True)}
    assert jobs[True] <= jobs[False] + 2, jobs


def test_publish_day_job_count(spark, tmp_path):
    """A checked day and both writes: the summary is one per-cell
    aggregate over the cached detailed product, not three classifiers
    joined back, so the day fires 13 jobs here where the joined
    formulation fired 22."""
    jobs = _jobs_during(spark, "day-job-count",
                        lambda: _publish_day(spark, tmp_path, True))
    assert len(jobs) <= 14, jobs


def test_repeated_day_reuses_compiled_classes(spark, tmp_path):
    """The session compiles each whole-stage class once: a second identical
    day compiles (almost) nothing, where the default 100-entry codegen
    cache and stage-numbered class names recompiled dozens a day."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount
    _publish_day(spark, tmp_path / "first", run_checks=True)
    before = compiles()
    _publish_day(spark, tmp_path / "second", run_checks=True)
    assert compiles() - before <= 10
