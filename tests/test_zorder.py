"""Morton (Z-order) key correctness against a pure-Python reference."""

from pyspark.sql import functions as F

from flood_data_spark.functions.keys import (
    MORTON_BIAS,
    morton_key,
    with_morton_key,
)


def _py_part1by1(x: int) -> int:
    x &= 0xFFFFFFFF
    x = (x | (x << 16)) & 0x0000FFFF0000FFFF
    x = (x | (x << 8)) & 0x00FF00FF00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x << 2)) & 0x3333333333333333
    x = (x | (x << 1)) & 0x5555555555555555
    return x


def _py_morton(lat_idx: int, lon_idx: int) -> int:
    return _py_part1by1(lat_idx + MORTON_BIAS) | \
        (_py_part1by1(lon_idx + MORTON_BIAS) << 1)


def test_morton_matches_python_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (5, 9), (1799, 3599),
             (-1, 0), (0, -1), (-1800, -3600), (123456, -654321)]
    df = spark.createDataFrame(cases, "la long, lo long")
    got = df.select("la", "lo",
                    morton_key(F.col("la"), F.col("lo")).alias("z")).collect()
    for r in got:
        assert r.z == _py_morton(r.la, r.lo), (r.la, r.lo)


def test_morton_interleave_is_injective_on_grid(spark):
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("la"), F.floor(F.col("id") / 64).alias("lo"))
    n = (df.select(morton_key(F.col("la"), F.col("lo")).alias("z"))
         .distinct().count())
    assert n == 4096


def test_with_morton_key_neighbor_cells_are_key_adjacent(spark):
    # cells at centers of adjacent grid squares: z-keys of (k, j) and
    # (k, j+1) differ exactly in the lon bit positions
    df = spark.createDataFrame(
        [(0.025, 0.025), (0.025, 0.075), (0.075, 0.025)],
        "latitude double, longitude double")
    rows = {(r.latitude, r.longitude): r.z_key
            for r in with_morton_key(df, resolution=0.05).collect()}
    base = rows[(0.025, 0.025)]
    assert rows[(0.025, 0.075)] == base + 2  # lon bit is the ×2 lane
    assert rows[(0.075, 0.025)] == base + 1  # lat bit is the ×1 lane
