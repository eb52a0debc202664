"""WKT geometry + serving-predicate tests — models reference
test/test_spark_transforms.py:617-645 exact-string golden rows."""

from flood_data_spark.functions.geometry import (
    add_geometry,
    bbox_filter,
    restrict_area,
)
from flood_data_spark.operators.serving import (
    grid_cell_bounds,
    neighborhood_lookup,
)


def test_wkt_exact_string(spark):
    df = spark.createDataFrame([(16.975, -17.975)], ["latitude", "longitude"])
    out = add_geometry(df, half_grid_size=0.025, precision=3).first()
    assert out.wkt == ("POLYGON ((-18.0 16.95,-18.0 17.0,-17.95 17.0,"
                       "-17.95 16.95,-18.0 16.95))")


def test_wkt_no_trailing_zero_padding(spark):
    df = spark.createDataFrame([(0.025, 0.025)], ["latitude", "longitude"])
    out = add_geometry(df, 0.025, 3).first()
    assert out.wkt == "POLYGON ((0.0 0.0,0.0 0.05,0.05 0.05,0.05 0.0,0.0 0.0))"


def test_cell_bbox_for_point():
    assert grid_cell_bounds(16.99, -17.96) == (16.95, 17.0, -18.0, -17.95)


def _center_grid(spark, lat_min, lat_max, lon_min, lon_max, res=0.05):
    """Cell-center grid mirroring the reference's restrict-area test dataset
    (test/data/data_generation.py:100-111): latitude DESCENDING from
    lat_max + res/2, longitude ascending from lon_min + res/2."""
    lats, lat = [], lat_max + res / 2
    while lat > lat_min:
        lats.append(round(lat, 4))
        lat -= res
    lons, lon = [], lon_min + res / 2
    while lon < lon_max:
        lons.append(round(lon, 4))
        lon += res
    return spark.createDataFrame(
        [(la, lo) for la in lats for lo in lons], ["latitude", "longitude"])


def test_restrict_area_reference_edge_equalities(spark):
    """Port of reference test/test_restrict_dataset_area.py:28-40: after
    restricting, the surviving min/max cell centers sit exactly half a cell
    inside the requested box (the quarter-cell buffer keeps the edge cells,
    never the neighbors)."""
    res = 0.05
    df = _center_grid(spark, -2.0, 16.95, 3.0, 9.0, res)
    r_lat_min, r_lat_max, r_lon_min, r_lon_max = -2.0, 17.0, 5.0, 7.0
    buf = res / 4
    out = restrict_area(df, r_lat_min, r_lat_max, r_lon_min, r_lon_max, buf)
    import pyspark.sql.functions as F
    row = out.agg(F.min("latitude").alias("lat_lo"),
                  F.max("latitude").alias("lat_hi"),
                  F.min("longitude").alias("lon_lo"),
                  F.max("longitude").alias("lon_hi")).first()
    # loose bounds (reference asserts 29-33)
    assert row.lat_lo > r_lat_min - buf and row.lat_hi < r_lat_max + buf
    assert row.lon_lo > r_lon_min - buf and row.lon_hi < r_lon_max + buf
    # strict edge equalities (reference asserts 36-40)
    assert abs(row.lat_lo - (r_lat_min + res / 2)) < 1e-9
    assert abs(row.lat_hi - (r_lat_max - res / 2)) < 1e-9
    assert abs(row.lon_lo - (r_lon_min + res / 2)) < 1e-9
    assert abs(row.lon_hi - (r_lon_max - res / 2)) < 1e-9


def test_restrict_area_default_buffer_and_order(spark):
    """Default buffer = resolution/buffer_div = 0.0125°; raster_order sorts
    latitude descending then longitude ascending."""
    df = _center_grid(spark, 0.0, 0.2, 0.0, 0.2)
    out = restrict_area(df, 0.0, 0.1, 0.0, 0.1, raster_order=True)
    rows = [(r.latitude, r.longitude) for r in out.collect()]
    assert rows == [(0.075, 0.025), (0.075, 0.075),
                    (0.025, 0.025), (0.025, 0.075)]


def test_bbox_filter_and_neighbors(spark):
    cells = [(round(0.025 + 0.05 * i, 3), round(0.025 + 0.05 * j, 3))
             for i in range(5) for j in range(5)]
    df = spark.createDataFrame(cells, ["latitude", "longitude"])
    # box covering the 2x2 lower corner
    assert bbox_filter(df, 0.0, 0.08, 0.0, 0.08).count() == 4
    # 3x3 neighborhood around the center cell (0.125, 0.125)
    assert neighborhood_lookup(df, 0.13, 0.11).count() == 9
