"""Serving-lookup tests (SURVEY §2.3 J8) — grid-cell point and 3×3
neighborhood queries as pushdown-friendly membership predicates on the
``precision`` grid, matching the reference's intersects semantics
(flood-api-examples.py:83-142,199-221)."""

import pytest
from pyspark.sql import functions as F

from flood_data_spark.operators.serving import (
    grid_cell_bounds,
    neighborhood_lookup,
    point_lookup,
)


def _cells(spark, n=10):
    # n x n grid of cell centers at 0.05 resolution, value = encoded index
    rows = [(round(0.025 + i * 0.05, 3), round(0.025 + j * 0.05, 3),
             float(i * 100 + j))
            for i in range(n) for j in range(n)]
    return spark.createDataFrame(
        rows, "latitude double, longitude double, val double")


def test_grid_cell_bounds_matches_reference_examples():
    # the two worked examples in the reference docstring
    # (flood-api-examples.py:93-97)
    assert grid_cell_bounds(-5.8, 37.75) == (-5.8, -5.75, 37.75, 37.8)
    assert grid_cell_bounds(-5.81, 37.7501) == (-5.85, -5.8, 37.75, 37.8)


def test_point_lookup_single_cell(spark):
    cells = _cells(spark)
    got = point_lookup(cells, 0.26, 0.12).collect()
    assert len(got) == 1
    # 0.26 → cell [0.25,0.30) center 0.275 (i=5); 0.12 → center 0.125 (j=2)
    assert got[0].latitude == 0.275 and got[0].longitude == 0.125
    assert got[0].val == 502.0


def _cells_around(spark, lat, lon):
    # 4 x 4 cell centers at 0.05 resolution around (lat, lon)
    i0, j0 = round(lat / 0.05) - 2, round(lon / 0.05) - 2
    rows = [(round((i0 + i) * 0.05 + 0.025, 3),
             round((j0 + j) * 0.05 + 0.025, 3))
            for i in range(4) for j in range(4)]
    return spark.createDataFrame(rows, "latitude double, longitude double")


def test_point_on_boundary_snaps_east_north(spark):
    cells = _cells(spark)
    got = point_lookup(cells, 0.25, 0.10).collect()
    assert len(got) == 1
    assert (got[0].latitude, got[0].longitude) == (0.275, 0.125)
    # edges whose binary quotient lands just below the integer:
    # 11.35 / 0.05 = 226.99999999999997 and 0.15 / 0.05 = 2.9999999999999996
    for lat, lon, want in [(11.35, 0.15, (11.375, 0.175)),
                           (0.15, 11.35, (0.175, 11.375))]:
        assert grid_cell_bounds(lat, lon) == (
            round(want[0] - 0.025, 3), round(want[0] + 0.025, 3),
            round(want[1] - 0.025, 3), round(want[1] + 0.025, 3))
        got = point_lookup(_cells_around(spark, lat, lon),
                           lat, lon).collect()
        assert [(r.latitude, r.longitude) for r in got] == [want]


def test_neighborhood_3x3_with_primary_flag(spark):
    cells = _cells(spark)
    got = neighborhood_lookup(cells, 0.26, 0.12)
    rows = got.collect()
    assert len(rows) == 9
    primaries = [r for r in rows if r.is_primary]
    assert len(primaries) == 1
    assert (primaries[0].latitude, primaries[0].longitude) == (0.275, 0.125)
    lats = {r.latitude for r in rows}
    lons = {r.longitude for r in rows}
    assert lats == {0.225, 0.275, 0.325}
    assert lons == {0.075, 0.125, 0.175}


def test_neighborhood_truncated_at_grid_edge(spark):
    cells = _cells(spark)
    got = neighborhood_lookup(cells, 0.01, 0.01, include_primary=False)
    # corner cell: only 3 neighbors exist, primary excluded
    assert got.count() == 3
    assert "is_primary" not in got.columns


def test_point_lookup_predicate_pushes_down(spark, tmp_path):
    # written to parquet, the membership predicate must reach the scan,
    # where the reader prunes row groups and pages by its min/max
    _cells(spark).write.parquet(str(tmp_path / "cells"))
    df = spark.read.parquet(str(tmp_path / "cells"))
    plan = point_lookup(df, 0.26, 0.12)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "In(latitude, [0.25," in plan


def test_new_coordinate_compiles_no_classes(spark, tmp_path):
    """A point request (the cell, then its 3x3 block) at a coordinate in
    another cell reuses the classes the first request compiled: the
    bounds live in an InSet held by reference, not in generated code."""
    _cells(spark, 20).write.parquet(str(tmp_path / "cells"))
    df = spark.read.parquet(str(tmp_path / "cells"))
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME().getCount)

    def request(lat, lon):
        assert len(point_lookup(df, lat, lon).collect()) == 1
        assert len(neighborhood_lookup(df, lat, lon).collect()) == 9

    request(0.26, 0.12)
    before = compiles()
    request(0.61, 0.87)
    assert compiles() - before == 0


def _keys_around(spark, lat, lon, p=3, quadrant=False):
    """On-grid keys every 0.005 degrees within 0.2 of (lat, lon): cell
    centers, cell edges and points between them, rounded to p decimals
    by Spark as the readers store them; ``quadrant`` keeps lat, lon >= 0."""
    ax = F.col("id") - 40
    df = (spark.range(81).select(F.round(F.lit(lat) + ax * 0.005, p)
                                 .alias("latitude"))
          .crossJoin(spark.range(81).select(
              F.round(F.lit(lon) + ax * 0.005, p).alias("longitude"))))
    if quadrant:
        df = df.filter((F.col("latitude") >= 0) & (F.col("longitude") >= 0))
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("lat, lon, g, p, include_primary, quadrant", [
    (11.35, 0.15, 0.05, 3, True, False),     # east/north edge snaps
    (0.15, 11.35, 0.05, 3, True, False),
    (-5.8, 37.75, 0.05, 3, True, False),     # reference examples
    (-5.81, 37.7501, 0.05, 3, True, False),
    (0.01, -0.01, 0.05, 3, True, False),     # equator / prime meridian
    (-0.01, 0.01, 0.05, 3, True, False),
    (-0.03, -0.04, 0.05, 3, True, False),
    (0.01, 0.01, 0.05, 3, False, True),      # truncated at the grid edge
    (3.14159, -2.71828, 0.1, 4, True, False),
])
def test_lookups_match_between_on_rounded_keys(spark, lat, lon, g, p,
                                               include_primary, quadrant):
    """On keys rounded to the grid, the membership predicates select
    exactly the rows the inclusive range predicates selected."""
    df = _keys_around(spark, lat, lon, p, quadrant)
    la, lb, oa, ob = grid_cell_bounds(lat, lon, g, p)

    def box(pad):
        return (F.col("latitude").between(round(la - pad, p),
                                          round(lb + pad, p))
                & F.col("longitude").between(round(oa - pad, p),
                                             round(ob + pad, p)))

    assert _rows(point_lookup(df, lat, lon, g, p)) == \
        _rows(df.filter(box(0)))
    want = df.filter(box(g)).withColumn("is_primary", box(0))
    if not include_primary:
        want = want.filter(~F.col("is_primary")).drop("is_primary")
    assert _rows(neighborhood_lookup(
        df, lat, lon, g, p, include_primary=include_primary)) == _rows(want)


def test_off_grid_key_is_not_matched(spark):
    """The contract: keys lie on the precision grid.  A key off it, which
    a range predicate matched, matches no lookup."""
    cells = spark.createDataFrame(
        [(0.275, 0.125, 1.0), (0.2750000001, 0.125, 2.0)],
        "latitude double, longitude double, val double")
    assert [r.val for r in point_lookup(cells, 0.26, 0.12).collect()] == [1.0]
    block = neighborhood_lookup(cells, 0.26, 0.12).collect()
    assert [(r.val, r.is_primary) for r in block] == [(1.0, True)]


def test_batch_point_lookup_matches_single_lookups(spark):
    from flood_data_spark.operators.serving import (
        batch_point_lookup, point_lookup)

    cells = spark.createDataFrame(
        [(round(0.025 + i * 0.05, 3), round(0.025 + j * 0.05, 3),
          float(i * 100 + j))
         for i in range(10) for j in range(10)],
        "latitude double, longitude double, val double")
    pts = spark.createDataFrame(
        [(0.03, 0.01), (0.26, 0.26), (0.499, 0.499), (99.0, 99.0)],
        "latitude double, longitude double")

    out = batch_point_lookup(cells, pts).collect()
    got = {(r.query_latitude, r.query_longitude): (r.latitude, r.longitude)
           for r in out}
    # out-of-grid point drops; others match the single-point operator
    assert len(got) == 3 and (99.0, 99.0) not in got
    for (qla, qlo), cell in got.items():
        single = point_lookup(cells, qla, qlo).collect()
        assert len(single) == 1
        assert (single[0].latitude, single[0].longitude) == cell


def test_batch_point_lookup_colliding_columns(spark):
    """Every point column is query_-prefixed, so a points_df column named
    like a cell column (here `val`) can't collide in the join output."""
    from flood_data_spark.operators.serving import batch_point_lookup

    cells = spark.createDataFrame(
        [(0.025, 0.025, 7.0)], "latitude double, longitude double, val double")
    pts = spark.createDataFrame(
        [(0.03, 0.01, 99.0)], "latitude double, longitude double, val double")
    out = batch_point_lookup(cells, pts)
    assert sorted(out.columns) == sorted(
        ["latitude", "longitude", "val",
         "query_latitude", "query_longitude", "query_val"])
    row = out.collect()[0]
    assert row.val == 7.0 and row.query_val == 99.0


def test_radius_lookup_matches_brute_force(spark):
    """Box-pruned radius search equals the unpruned cross-join filter,
    including cells just inside/outside the radius boundary."""
    import math

    from pyspark.sql import functions as F
    from flood_data_spark.operators.serving import radius_lookup

    cells = spark.createDataFrame(
        [(i, round(0.025 + (i % 40) * 0.05, 3),
          round(0.025 + (i // 40) * 0.05, 3)) for i in range(400)],
        "cell_id long, latitude double, longitude double")
    points = spark.createDataFrame(
        [(0, 0.50, 0.50), (1, 1.99, 0.03), (2, 0.0, 0.0)],
        "pid long, latitude double, longitude double")
    got = {(r.query_pid, r.cell_id)
           for r in radius_lookup(cells, points, radius_km=20.0)
           .collect()}

    R = 6371.0088
    def hav(lat1, lon1, lat2, lon2):
        a = (math.sin(math.radians(lat2 - lat1) / 2) ** 2
             + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
             * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
        return 2 * R * math.asin(math.sqrt(a))

    expected = set()
    for pid, plat, plon in [(0, 0.50, 0.50), (1, 1.99, 0.03),
                            (2, 0.0, 0.0)]:
        for i in range(400):
            clat = round(0.025 + (i % 40) * 0.05, 3)
            clon = round(0.025 + (i // 40) * 0.05, 3)
            if round(hav(clat, clon, plat, plon), 6) <= 20.0:
                expected.add((pid, i))
    assert got == expected and expected


def test_radius_lookup_validation(spark):
    import pytest as _pytest

    from flood_data_spark.operators.serving import radius_lookup

    df = spark.createDataFrame([(0, 0.0, 0.0)],
                               "cell_id long, latitude double, longitude double")
    with _pytest.raises(ValueError, match="radius_km"):
        radius_lookup(df, df, radius_km=0)


def test_radius_lookup_antimeridian_wrap(spark):
    """Circles crossing the +-180 seam still meet their cells: the
    query-side longitude indices wrap modulo the world width."""
    from flood_data_spark.operators.serving import radius_lookup

    cells = spark.createDataFrame(
        [(0, 0.025, -179.975), (1, 0.025, 179.975), (2, 0.025, 0.025)],
        "cell_id long, latitude double, longitude double")
    points = spark.createDataFrame(
        [(0, 0.02, 179.99)],
        "pid long, latitude double, longitude double")
    got = {(r.query_pid, r.cell_id)
           for r in radius_lookup(cells, points, radius_km=25.0)
           .collect()}
    assert got == {(0, 0), (0, 1)}


def test_idw_matches_integer_reference(spark):
    """Differential vs a python replica of the exact integer chain
    (rounded-6 haversine -> d2 micro -> 1e18/d2 weights -> Sw*v/Sw)."""
    import math

    from flood_data_spark.operators.serving import idw_interpolate

    stations = spark.createDataFrame(
        [(1, 0.10, 0.10, 40.0), (2, 0.20, 0.05, 10.0),
         (3, 0.05, 0.25, -20.0), (4, 3.00, 3.00, 999.0)],  # far away
        "sid long, latitude double, longitude double, val double")
    points = spark.createDataFrame(
        [(7, 0.12, 0.11), (8, 0.06, 0.24)],
        "pid long, latitude double, longitude double")
    out = {r.query_pid: r for r in
           idw_interpolate(stations, points, "val",
                           radius_km=40.0).collect()}

    R = 6371.0088

    def hav(lat1, lon1, lat2, lon2):
        a = (math.sin(math.radians(lat1 - lat2) / 2) ** 2
             + math.cos(math.radians(lat2)) * math.cos(math.radians(lat1))
             * math.sin(math.radians(lon1 - lon2) / 2) ** 2)
        return round(2 * R * math.asin(math.sqrt(a)), 6)

    def idiv(num, den):
        q = (2 * abs(num) + den) // (2 * den)
        return -q if num < 0 else q

    st = [(0.10, 0.10, 40.0), (0.20, 0.05, 10.0), (0.05, 0.25, -20.0),
          (3.00, 3.00, 999.0)]
    for pid, (plat, plon) in ((7, (0.12, 0.11)), (8, (0.06, 0.24))):
        swv = sw = n = 0
        for slat, slon, v in st:
            d = hav(plat, plon, slat, slon)
            if d > 40.0:
                continue
            n += 1
            d2q = max(int(math.floor(d * d * 1e6 + 0.5)), 1)
            wq = idiv(10 ** 18, d2q)
            vq = int(math.copysign(math.floor(abs(v) * 1e6 + 0.5), v))
            swv += wq * vq
            sw += wq
        want = idiv(swv, sw) / 1e6
        assert out[pid].n_stations == n
        assert out[pid].idw == pytest.approx(want, abs=2e-5)
    # the far station never participates
    assert all(r.n_stations == 3 for r in out.values())


def test_idw_zero_distance_dominates_and_empty(spark):
    from flood_data_spark.operators.serving import idw_interpolate

    stations = spark.createDataFrame(
        [(1, 0.10, 0.10, 42.0), (2, 0.14, 0.10, 7.0)],
        "sid long, latitude double, longitude double, val double")
    points = spark.createDataFrame(
        [(1, 0.10, 0.10), (2, 80.0, 80.0)],
        "pid long, latitude double, longitude double")
    out = {r.query_pid: r for r in
           idw_interpolate(stations, points, "val",
                           radius_km=25.0).collect()}
    # coincident station dominates (weight 1e18 vs ~1e10)
    assert out[1].idw == pytest.approx(42.0, abs=1e-4)
    # no stations in radius -> point absent
    assert 2 not in out
