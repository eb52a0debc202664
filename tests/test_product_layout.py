"""The daily products come out sorted by (latitude, longitude), the
reference's sort before save (threshold-data-joining.py:120), so a
lookup on a written product reads only the files whose min/max
statistics can hold its cell: the parquet scan surfaces a fraction of the
product's rows, where an unsorted product has every file span the whole
grid and the scan surfaces them all."""

import datetime

import numpy as np
import pandas as pd
import pytest

from flood_data_spark.operators.serving import neighborhood_lookup, point_lookup
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from flood_data_spark.sources.parquet import upsert_partitions, write_parquet

NLAT, NLON, STEPS = 40, 30, 5
ISSUED = datetime.date(2024, 1, 1)


@pytest.fixture(scope="module")
def small_files(spark):
    """A session clone whose writes cut a file every 100 rows: the
    1,200-cell summary and 6,000-row detailed product then span 12 and 60
    files, the shape a product has at scale with 128 MB row groups."""
    s = spark.newSession()
    s.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    return s


@pytest.fixture(scope="module")
def products(small_files):
    rng = np.random.default_rng(9)
    lat, lon = np.meshgrid(0.025 + np.arange(NLAT) * 0.05,
                           0.025 + np.arange(NLON) * 0.05, indexing="ij")
    cells = pd.DataFrame({"latitude": np.round(lat.ravel(), 3),
                          "longitude": np.round(lon.ravel(), 3)})
    # every member above the 2y and 5y thresholds: no cell is gray, so
    # both products keep the whole grid
    forecast = pd.concat([cells.assign(
        issued_on=ISSUED, valid_for=ISSUED + datetime.timedelta(step - 1),
        step=np.int32(step),
        dis24=rng.uniform(200.0, 400.0, len(cells)).astype("float32"))
        for step in range(1, STEPS + 1) for _ in range(2)])
    thresholds = cells.assign(threshold_2y=100.0, threshold_5y=150.0,
                              threshold_20y=1000.0)
    return DailyForecastPipeline(accuracy_mode="exact").run(
        small_files.createDataFrame(forecast),
        small_files.createDataFrame(thresholds))


def _scan_output_rows(df) -> int:
    """Rows the parquet reader surfaced after row-group pruning: the scan
    leaf's numOutputRows once the query has run."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    return plan.collectLeaves().apply(0).metrics() \
        .apply("numOutputRows").value()


def _assert_lookups_prune(spark, detailed_path, summary_path):
    detailed = spark.read.parquet(detailed_path)
    summary = spark.read.parquet(summary_path)
    n_detailed, n_summary = detailed.count(), summary.count()
    assert (n_detailed, n_summary) == (NLAT * NLON * STEPS, NLAT * NLON)
    lat, lon = 1.01, 0.72                # an interior cell
    point = point_lookup(detailed, lat, lon)
    assert point.count() == STEPS
    assert _scan_output_rows(point) <= n_detailed / 4
    block = neighborhood_lookup(summary, lat, lon)
    assert block.count() == 9
    assert _scan_output_rows(block) <= n_summary / 4


def test_written_products_prune_lookups(spark, products, tmp_path):
    write_parquet(products.detailed, str(tmp_path / "detailed"))
    write_parquet(products.summary, str(tmp_path / "summary"))
    _assert_lookups_prune(spark, str(tmp_path / "detailed"),
                          str(tmp_path / "summary"))


def test_upserted_partition_prunes_lookups(spark, products, tmp_path):
    """upsert_partitions writes partitionBy(issued_on), for which Spark
    sorts each task's rows by the partition column; the products' order
    must survive that sort inside the day's partition."""
    upsert_partitions(products.detailed, str(tmp_path / "detailed"),
                      "issued_on")
    upsert_partitions(products.summary, str(tmp_path / "summary"),
                      "issued_on")
    day = f"issued_on={ISSUED}"
    _assert_lookups_prune(spark, str(tmp_path / "detailed" / day),
                          str(tmp_path / "summary" / day))
