"""Grid-cell geometry & serving-side spatial predicates.

The reference's geometry is stringly-typed WKT built from the cell bounding
box (flood/spark/transforms.py:152-177) — no geospatial library on the Spark
side.  Serving lookups (databricks/flood-api-examples.py:83-142, 199-221) map
a query point to its containing cell's bbox and intersect; neighborhood fetch
is the 3x3 ring of cells.  We express both as pure column predicates so
Parquet min/max row-group pruning applies (no UDF, no Sedona dependency).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def _fmt(col: Column) -> Column:
    # double → string via Spark's native cast gives the reference's exact
    # trailing-zero formatting ("-18.0", not "-18.000"); golden expected
    # strings at test/test_spark_transforms.py:643-645.
    return col.cast("string")


def add_geometry(df: DataFrame, half_grid_size: float | None = None,
                 precision: int | None = None) -> DataFrame:
    """Append a `wkt` POLYGON column for each cell's bounding box.

    Ring order (reference transforms.py:166-173): (minlon minlat), (minlon
    maxlat), (maxlon maxlat), (maxlon minlat), close at (minlon minlat).
    """
    half = half_grid_size if half_grid_size is not None else DEFAULT_CONFIG.half_grid_size
    p = precision if precision is not None else DEFAULT_CONFIG.precision

    lat_lo = F.round(F.col("latitude") - half, p)
    lat_hi = F.round(F.col("latitude") + half, p)
    lon_lo = F.round(F.col("longitude") - half, p)
    lon_hi = F.round(F.col("longitude") + half, p)

    wkt = F.concat(
        F.lit("POLYGON (("),
        _fmt(lon_lo), F.lit(" "), _fmt(lat_lo), F.lit(","),
        _fmt(lon_lo), F.lit(" "), _fmt(lat_hi), F.lit(","),
        _fmt(lon_hi), F.lit(" "), _fmt(lat_hi), F.lit(","),
        _fmt(lon_hi), F.lit(" "), _fmt(lat_lo), F.lit(","),
        _fmt(lon_lo), F.lit(" "), _fmt(lat_lo),
        F.lit("))"),
    )
    return df.withColumn("wkt", wkt)


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in kilometers (mean Earth radius
    6371.0088): 2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))).
    Written with a FIXED operation order so an ANSI-SQL oracle states
    the identical float expression; engine libm sin/cos differ by at
    most an ulp, far under any useful rounding of a km distance."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (F.pow(F.sin(dlat), 2)
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.pow(F.sin(dlon), 2))
    return 2 * 6371.0088 * F.asin(F.sqrt(a))


def bbox_filter(df: DataFrame, lat_min: float, lat_max: float,
                lon_min: float, lon_max: float) -> DataFrame:
    """Spatial box slice (reference P9, flood/etl/utils.py:16-19) as a native
    range predicate — prunes Parquet row groups via lat/lon min-max stats."""
    return df.filter(
        F.col("latitude").between(lat_min, lat_max)
        & F.col("longitude").between(lon_min, lon_max)
    )


def restrict_area(df: DataFrame, lat_min: float, lat_max: float,
                  lon_min: float, lon_max: float,
                  buffer: float | None = None,
                  lat_col: str = "latitude", lon_col: str = "longitude",
                  raster_order: bool = False) -> DataFrame:
    """Region-of-interest slice with the reference's buffered-edge semantics
    (P9 — flood/etl/utils.py:16-19 `restrict_dataset_area`, unit-tested at
    test/test_restrict_dataset_area.py:28-40).

    Keeps rows with lat in [lat_min - buffer, lat_max + buffer] and lon in
    [lon_min - buffer, lon_max + buffer], both ends inclusive.  The default
    buffer is a QUARTER cell (resolution / buffer_div = 0.05/4 = 0.0125°,
    the reference's default): cell CENTERS sit half a cell inside the box
    edge, so the quarter-cell buffer tolerates float fuzz on the stored
    center coordinates without ever pulling in the next cell's center
    (which is a full half-cell outside).

    The reference selects latitude with a DESCENDING slice
    (`slice(lat_max + buffer, lat_min - buffer)`) because GloFAS rasters
    store latitude north→south; a DataFrame is unordered, so the predicate
    covers both orientations.  Pass raster_order=True to also sort the
    result into the raster convention (latitude descending, longitude
    ascending) before a write — a global sort, so leave it off mid-plan.

    A plain range predicate → pushed to the parquet scan (row-group
    min/max pruning + partition pruning on lat/lon-partitioned layouts).
    """
    b = (buffer if buffer is not None
         else DEFAULT_CONFIG.resolution / DEFAULT_CONFIG.buffer_div)
    out = df.filter(
        F.col(lat_col).between(lat_min - b, lat_max + b)
        & F.col(lon_col).between(lon_min - b, lon_max + b))
    if raster_order:
        out = out.orderBy(F.desc(lat_col), F.asc(lon_col))
    return out


def point_in_polygon(df: DataFrame, lat_col: str, lon_col: str,
                     vertices, out_col: str = "inside") -> DataFrame:
    """Even-odd ray-casting containment against a CONSTANT polygon —
    the spatial filter between the bbox (`bbox_filter`) and a real
    geometry engine: "which grid cells / points fall inside this basin
    outline", for outlines of tens-to-hundreds of vertices.

    `vertices`: ordered [(lon, lat), ...] ring (closing edge implied;
    convex or concave, no self-intersection).  A rightward ray from the
    point crosses edge (p1, p2) iff the edge straddles the point's
    latitude ((y1 > py) != (y2 > py)) and the crossing abscissa
    (x2-x1)·(py-y1)/(y2-y1) + x1 lies right of the point.  Horizontal
    edges never straddle, and IEEE division keeps the dead branch finite
    — no guards needed.

    Plan: the polygon is a LITERAL comparison ladder (one when-term per
    edge) — pure whole-stage-codegen projection, zero shuffle, zero
    joins; at 100 TB this is a free rider on any scan.  Points exactly
    ON an edge/vertex follow the strict-inequality convention (data
    contract: boundary points are not claimed).

    Adds (n_crossings INT, `out_col` BOOLEAN).  Engine-portable: every
    term is literal double arithmetic mirrored in the oracle.
    """
    verts = [(float(x), float(y)) for x, y in vertices]
    if len(verts) < 3:
        raise ValueError(f"point_in_polygon: need >= 3 vertices, "
                         f"got {len(verts)}")
    px = F.col(lon_col).cast("double")
    py = F.col(lat_col).cast("double")
    crossings = None
    for i, (x1, y1) in enumerate(verts):
        x2, y2 = verts[(i + 1) % len(verts)]
        straddles = (F.lit(y1) > py) != (F.lit(y2) > py)
        crosses_right = px < ((F.lit(x2) - F.lit(x1)) * (py - F.lit(y1))
                              / (F.lit(y2) - F.lit(y1)) + F.lit(x1))
        term = F.when(straddles & crosses_right, 1).otherwise(0)
        crossings = term if crossings is None else crossings + term
    return (df.withColumn("n_crossings", crossings.cast("int"))
            .withColumn(out_col, F.col("n_crossings") % 2 == 1))
