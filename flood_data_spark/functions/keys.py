"""Float-key discipline (SURVEY.md §1.4 — load-bearing).

The reference joins on (latitude, longitude) doubles and makes those joins
sound by rounding both sides to GLOFAS_PRECISION=3 decimals at every ingest
point (glofas-forecast-computation.py:126-127, :149-150;
threshold-data-joining.py:79-80).  A unit test there proves the join returns
0 rows without rounding (test/test_spark_transforms.py:55-84).

We centralize that rule here, and additionally offer integer *grid indices*
(`round(lat / resolution)`) as surrogate join keys: integers shuffle-hash
deterministically, never suffer representation drift, and make nearest-grid
alignment (reference flood/etl/filter_by_upstream.py:21-23, method='nearest')
a plain equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG, EngineConfig

KEY_COLS = ("latitude", "longitude")


def round_keys(df: DataFrame, precision: int | None = None,
               cols: tuple = KEY_COLS) -> DataFrame:
    """Round float join keys to the configured precision.

    MUST be applied to every table before any (lat, lon) equi-join.
    """
    p = precision if precision is not None else DEFAULT_CONFIG.precision
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), p))
    return out


def grid_index(col, resolution: float | None = None):
    """Integer grid index for a coordinate: floor(round(coord / res, 9)).

    Robust surrogate for float keys: cell *centers* sit at (k + 0.5) * res,
    i.e. mid-bucket under floor, so noise up to res/2 cannot move them to a
    neighboring index.  (round() would place centers exactly on rounding
    boundaries — 0.225/0.05 = 4.5 vs 0.275/0.05 = 5.4999… collide at 5.)
    Rounding the quotient to 9 decimals first keeps a point on a cell edge
    in the cell east/north of it, the serving rule: the binary quotient of
    a decimal edge can land just below the integer (11.35 / 0.05 =
    226.99999999999997).
    """
    res = resolution if resolution is not None else DEFAULT_CONFIG.resolution
    return F.floor(F.round(F.col(col) / F.lit(res), 9)).cast("long")


def with_grid_index(df: DataFrame, resolution: float | None = None,
                    lat_col: str = "latitude", lon_col: str = "longitude",
                    out_prefix: str = "g_") -> DataFrame:
    return (df
            .withColumn(out_prefix + "lat", grid_index(lat_col, resolution))
            .withColumn(out_prefix + "lon", grid_index(lon_col, resolution)))


def _part1by1(col):
    """Spread the low 32 bits of a long so bit i lands at position 2i
    (Morton-code 'part1by1'), expressed as 5 shift/mask rounds — pure JVM
    bitwise Column ops, whole-stage-codegen friendly."""
    x = col.bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return x


#: offset added to grid indices before interleaving so negative indices
#: (southern/western hemisphere) map to non-negative bit patterns.  2^20
#: dwarfs any real grid index (|lat|/res ≤ 1800 at res=0.05) while keeping
#: the interleaved key < 2^42 — far from long overflow.
MORTON_BIAS = 1 << 20


def morton_key(lat_idx, lon_idx, bias: int = MORTON_BIAS):
    """Z-order (Morton) key: bit-interleave two integer grid indices.

    Rows close in 2-D space get numerically close keys, so sorting by this
    single long clusters both dimensions at once.  Input columns are
    biased to non-negative before interleaving; the result is deterministic
    and engine-portable (plain shifts/masks — the DuckDB oracle runs the
    same expression).
    """
    x = (lat_idx + F.lit(bias)).cast("long")
    y = (lon_idx + F.lit(bias)).cast("long")
    return _part1by1(x).bitwiseOR(F.shiftleft(_part1by1(y), 1))


def with_morton_key(df: DataFrame, resolution: float | None = None,
                    lat_col: str = "latitude", lon_col: str = "longitude",
                    out_col: str = "z_key") -> DataFrame:
    """Attach the Z-order key derived from (lat, lon) grid indices."""
    return df.withColumn(
        out_col, morton_key(grid_index(lat_col, resolution),
                            grid_index(lon_col, resolution)))


def snap_to_grid(df: DataFrame, resolution: float | None = None,
                 precision: int | None = None,
                 lat_col: str = "latitude", lon_col: str = "longitude") -> DataFrame:
    """Snap arbitrary coordinates to the *center* of their containing grid
    cell — the equi-join form of the reference's nearest-neighbor reindex
    (flood/etl/filter_by_upstream.py:21-23).  Cell centers sit at
    (k + 0.5) * resolution, i.e. the x.x25 / x.x75 pattern for res=0.05.
    """
    res = resolution if resolution is not None else DEFAULT_CONFIG.resolution
    p = precision if precision is not None else DEFAULT_CONFIG.precision
    half = res / 2.0

    def snap(c):
        return F.round(F.floor(F.col(c) / F.lit(res)) * F.lit(res) + F.lit(half), p)

    return (df.withColumn(lat_col, snap(lat_col))
              .withColumn(lon_col, snap(lon_col)))
