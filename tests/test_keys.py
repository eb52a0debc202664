"""Float-key discipline tests — models reference
test/test_spark_transforms.py:41-84 (rounding + join repair)."""

from pyspark.sql import functions as F

from flood_data_spark.functions.keys import round_keys, snap_to_grid, with_grid_index


def test_round_keys_canonicalizes(spark):
    df = spark.createDataFrame(
        [(19.0750000024, -17.9249999988, 1.0)],
        ["latitude", "longitude", "v"])
    out = round_keys(df).first()
    assert out.latitude == 19.075
    assert out.longitude == -17.925


def test_join_empty_without_rounding_nonempty_with(spark):
    # Two float keys that differ below precision must join after rounding.
    left = spark.createDataFrame([(19.0750000024, 0.025, 10.0)],
                                 ["latitude", "longitude", "dis"])
    right = spark.createDataFrame([(19.0749999999, 0.025, 5.0)],
                                  ["latitude", "longitude", "thr"])
    raw = left.join(right, on=["latitude", "longitude"], how="inner")
    assert raw.count() == 0
    fixed = round_keys(left).join(round_keys(right),
                                  on=["latitude", "longitude"], how="inner")
    assert fixed.count() == 1


def test_snap_to_grid_cell_centers(spark):
    df = spark.createDataFrame(
        [(0.02, 0.04), (0.049, 0.001), (-0.01, -0.049)],
        ["latitude", "longitude"])
    out = snap_to_grid(df).collect()
    assert (out[0].latitude, out[0].longitude) == (0.025, 0.025)
    assert (out[1].latitude, out[1].longitude) == (0.025, 0.025)
    assert (out[2].latitude, out[2].longitude) == (-0.025, -0.025)


def test_grid_index_matches_across_float_noise(spark):
    df = spark.createDataFrame(
        [(0.0250000001, "a"), (0.0249999999, "b")], ["latitude", "x"]) \
        .withColumn("longitude", F.lit(0.025))
    out = with_grid_index(df).select("g_lat").distinct()
    assert out.count() == 1


def test_grid_index_edge_points_snap_east_north(spark):
    # an edge point belongs to the cell east/north of the edge, also where
    # the binary quotient lands just below the integer (11.35 / 0.05 =
    # 226.99999999999997, 0.15 / 0.05 = 2.9999999999999996); cell centers
    # and interior points keep their floor
    cases = [(11.35, 227), (0.15, 3), (0.25, 5), (0.10, 2), (0.0, 0),
             (0.025, 0), (11.375, 227), (-0.05, -1), (-5.8, -116),
             (-5.81, -117), (0.0499, 0)]
    df = spark.createDataFrame([(v, 0.0) for v, _ in cases],
                               "latitude double, longitude double")
    got = [r.g_lat for r in with_grid_index(df).collect()]
    assert got == [want for _, want in cases]
