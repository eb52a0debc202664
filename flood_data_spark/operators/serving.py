"""Serving-time lookup queries (SURVEY.md §2.3 J8, reference
databricks/flood-api-examples.py:83-142,199-221).

The reference serves point queries by parsing every row's WKT polygon with
geopandas and running a driver-side ``geometry.intersects`` scan against an
inflated/deflated query box.  That is O(table) python-side work per lookup.

Spark-first redesign: grid cells are axis-aligned and the table rows are
keyed by *cell center* (latitude, longitude), so "polygon intersects the
deflated query box" is exactly "cell center inside the query cell's bounds",
and the 3×3 neighbor fetch ("intersects the inflated box") is "center within
one grid step of those bounds". Both become membership in the bounds' keys
on the ``precision`` grid: every p-decimal value in [lo, hi], g·10^p + 1 per
cell width (51 for a 0.05° cell at 3 decimals, 151 for the 3-cell band).
Keys must lie on that grid, as every reader and the pipeline round them
(SURVEY §1.4); an off-grid key, which a ``between`` matched, is not matched.
Why IN: ``between`` inlined its double bounds into the generated class, so
each new coordinate compiled ~4 classes (~17 ms each). An IN of more than 10
values becomes ``InSet``, held by reference in the generated code, so every
coordinate reuses one class (a grid with ≤ 10 keys per cell stays an inlined
``In``: correct, compiled per coordinate). The set is built in the driver:
~0.1 s at p=4, ~0.7 s at p=5 (4 CPUs). The scan still gets
``In(latitude, [...])``; on a table sorted by (latitude, longitude), as the
daily products are, it skips every row group and page whose min/max stats
miss the cell, but it still opens each file to read those stats. No
geometry parsing, no UDF, no collect.

Boundary semantics match the reference's ``get_grid_cell_bounds``
(flood-api-examples.py:108-120): a point on a cell edge belongs to the cell
to its east/north (``floor`` snap).  The snap floors the quotient
coord / grid_size after rounding it to 9 decimals, the same rule as
``functions.keys.grid_index``: the binary quotient of a decimal edge can
land just below the integer (11.35 / 0.05 = 226.99999999999997), and a
bare floor would put the point in the cell south/west of the edge.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG


def grid_cell_bounds(lat: float, lon: float,
                     grid_size: float | None = None,
                     precision: int | None = None) -> tuple:
    """(min_lat, max_lat, min_lon, max_lon) of the cell containing the
    point; edge points snap east/north (reference flood-api-examples.py:
    108-120)."""
    g = grid_size if grid_size is not None else DEFAULT_CONFIG.resolution
    p = precision if precision is not None else DEFAULT_CONFIG.precision
    min_lat = math.floor(round(lat / g, 9)) * g
    min_lon = math.floor(round(lon / g, 9)) * g
    return (round(min_lat, p), round(min_lat + g, p),
            round(min_lon, p), round(min_lon + g, p))


def _on_grid(col: str, lo: float, hi: float, p: int):
    """``col IN (every p-decimal value in [lo, hi])`` as one SQL
    expression.  Each value is an integer k written ``kE-pD``, which parses
    to the double nearest k/10^p: the double ``round(x, p)`` stores."""
    scale = 10 ** p
    keys = ", ".join(f"{k}E-{p}D" for k in
                     range(round(lo * scale), round(hi * scale) + 1))
    return F.expr(f"{col} IN ({keys})")


def point_lookup(cells_df: DataFrame, lat: float, lon: float,
                 grid_size: float | None = None,
                 precision: int | None = None,
                 lat_col: str = "latitude",
                 lon_col: str = "longitude") -> DataFrame:
    """Rows of the cell containing (lat, lon) — the reference's
    "intersects deflated polygon" query (flood-api-examples.py:221)
    as membership of the cell-center keys in the cell's g·10^p + 1 keys
    per axis on the ``precision`` grid (module docstring: why IN, and
    keys off the grid are not matched).  Cell centers never sit on cell
    edges, so strict and inclusive bounds are equivalent.
    """
    p = precision if precision is not None else DEFAULT_CONFIG.precision
    lat_lo, lat_hi, lon_lo, lon_hi = grid_cell_bounds(
        lat, lon, grid_size, p)
    return cells_df.filter(_on_grid(lat_col, lat_lo, lat_hi, p)
                           & _on_grid(lon_col, lon_lo, lon_hi, p))


def neighborhood_lookup(cells_df: DataFrame, lat: float, lon: float,
                        grid_size: float | None = None,
                        precision: int | None = None,
                        lat_col: str = "latitude",
                        lon_col: str = "longitude",
                        include_primary: bool = True,
                        flag_col: str = "is_primary") -> DataFrame:
    """The 3×3 block of cells around the point's cell — the reference's
    ``fetch_neighbors`` path (flood-api-examples.py:199-217): inflated-box
    intersects = centers within one grid step of the primary cell bounds,
    i.e. membership in the band's 3·g·10^p + 1 keys per axis on the
    ``precision`` grid (off-grid keys are not matched, as in
    `point_lookup`).

    Adds ``flag_col`` distinguishing the primary cell from neighbors
    (the reference computes the same mask with a second intersects pass),
    in the same IN form.
    """
    g = grid_size if grid_size is not None else DEFAULT_CONFIG.resolution
    p = precision if precision is not None else DEFAULT_CONFIG.precision
    lat_lo, lat_hi, lon_lo, lon_hi = grid_cell_bounds(lat, lon, g, p)
    out = (cells_df
           .filter(_on_grid(lat_col, round(lat_lo - g, p),
                            round(lat_hi + g, p), p)
                   & _on_grid(lon_col, round(lon_lo - g, p),
                              round(lon_hi + g, p), p))
           .withColumn(flag_col,
                       _on_grid(lat_col, lat_lo, lat_hi, p)
                       & _on_grid(lon_col, lon_lo, lon_hi, p)))
    if not include_primary:
        out = out.filter(~F.col(flag_col)).drop(flag_col)
    return out


def batch_point_lookup(cells_df: DataFrame, points_df: DataFrame,
                       grid_size: float | None = None,
                       lat_col: str = "latitude",
                       lon_col: str = "longitude",
                       point_lat_col: str = "latitude",
                       point_lon_col: str = "longitude",
                       broadcast_points: bool = True) -> DataFrame:
    """Resolve MANY query points to their containing cells in one job: both
    sides get an integer grid index (floor snap — same east/north edge
    semantics as `point_lookup`) and meet in a broadcast equi-join, so N
    points cost one pass over the cells instead of N pushdown scans.

    Output: every point column prefixed `query_` + the matched cell's row;
    points outside the grid drop out (inner join — the per-point analog of
    the reference's empty intersects result).  The blanket prefix (not just
    the coordinate pair) keeps any point metadata column — id, label,
    `val`, even a second `latitude` — from colliding with a cell column in
    the join output.
    """
    from flood_data_spark.functions.keys import grid_index

    g = grid_size if grid_size is not None else DEFAULT_CONFIG.resolution
    cells = (cells_df.withColumn("_glat", grid_index(lat_col, g))
             .withColumn("_glon", grid_index(lon_col, g)))
    renamed = points_df.select(
        *[F.col(c).alias("query_" + c) for c in points_df.columns])
    points = (renamed
              .withColumn("_glat", grid_index("query_" + point_lat_col, g))
              .withColumn("_glon", grid_index("query_" + point_lon_col, g)))
    # broadcast_points=True assumes an interactive-size point batch; pass
    # False for corpus-scale batches to fall back to a shuffled equi-join
    # instead of collecting the points to the driver
    if broadcast_points:
        points = F.broadcast(points)
    return (cells.join(points, ["_glat", "_glon"])
            .drop("_glat", "_glon"))


def radius_lookup(cells_df: DataFrame, points_df: DataFrame,
                  radius_km: float = 25.0,
                  grid_size: float | None = None,
                  lat_col: str = "latitude", lon_col: str = "longitude",
                  point_lat_col: str = "latitude",
                  point_lon_col: str = "longitude",
                  broadcast_points: bool = True) -> DataFrame:
    """Great-circle radius search WITHOUT the range-join BNLJ trap:
    every query point explodes to the bounded set of grid indices its
    radius bounding box covers (the 2-D analog of `interval_join`'s
    bucket explode), meets the cells in a plain (glat, glon) equi-join,
    and the exact haversine distance filters after.  Per-query key
    fan-out is (2·radius/grid_km)², a constant of the query — never a
    function of corpus size — and each (point, cell) pair meets exactly
    once (a cell has ONE grid index).

    The bounding box uses 109.5 km/degree — slightly UNDER the true
    ~110.57 km/degree latitude spacing, so the degree window strictly
    contains the radius circle (the prune is lossless); longitude
    widens by 1/cos(lat), clamped at cos = 0.05 (past ~87° use a
    latitude-band scan instead — documented limit).  When 360° is an
    exact multiple of the grid (the 0.05° default is), the query-side
    longitude indices WRAP modulo the world width, so circles crossing
    the antimeridian still meet their cells (cell longitudes are
    assumed normalized to [-180, 180)); for a non-dividing grid the
    seam is a documented miss.  Output: cell row + `query_`-prefixed
    point columns + `distance_km` (round-6), within-radius only
    (`<= radius_km`, boundary inclusive); the haversine itself is
    periodic in Δλ, so wrapped pairs score their true distance."""
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    from flood_data_spark.functions.geometry import haversine_km
    from flood_data_spark.functions.keys import grid_index

    g = grid_size if grid_size is not None else DEFAULT_CONFIG.resolution
    for reserved in ("_glat", "_glon", "distance_km"):
        if reserved in cells_df.columns or reserved in points_df.columns:
            raise ValueError(
                f"radius_lookup reserves column name {reserved!r}; "
                "rename it upstream")
    cells = (cells_df.withColumn("_glat", grid_index(lat_col, g))
             .withColumn("_glon", grid_index(lon_col, g)))
    renamed = points_df.select(
        *[F.col(c).alias("query_" + c) for c in points_df.columns])
    qlat = F.col("query_" + point_lat_col)
    qlon = F.col("query_" + point_lon_col)
    dlat = F.lit(radius_km / 109.5)
    dlon = (F.lit(radius_km) /
            (F.lit(109.5) * F.greatest(F.cos(F.radians(qlat)),
                                       F.lit(0.05))))
    glon_raw = F.explode(F.sequence(
        F.floor((qlon - dlon) / g).cast("long"),
        F.floor((qlon + dlon) / g).cast("long")))
    points = (renamed
              .withColumn("_glat", F.explode(F.sequence(
                  F.floor((qlat - dlat) / g).cast("long"),
                  F.floor((qlat + dlat) / g).cast("long"))))
              .withColumn("_glon", glon_raw))
    world = 360.0 / g
    if abs(world - round(world)) < 1e-9:
        # wrap into the cell-side index range for lon in [-180, 180):
        # pmod into [0, world) then shift down by half a world
        w = int(round(world))
        points = (points.withColumn(
            "_glon", F.pmod(F.col("_glon") + F.lit(w // 2), F.lit(w))
            - F.lit(w // 2))
            # a window wider than the world would alias two raw indices
            # onto one wrapped index — dedupe the (query-sized) explode
            # so no (point, cell) pair can join twice
            .dropDuplicates())
    if broadcast_points:
        points = F.broadcast(points)
    dist = haversine_km(F.col(lat_col), F.col(lon_col), qlat, qlon)
    return (cells.join(points, ["_glat", "_glon"])
            .withColumn("distance_km", F.round(dist, 6))
            .filter(F.col("distance_km") <= radius_km)
            .drop("_glat", "_glon"))


def idw_interpolate(stations_df: DataFrame, points_df: DataFrame,
                    value_col: str, radius_km: float = 25.0,
                    grid_size: float | None = None,
                    lat_col: str = "latitude",
                    lon_col: str = "longitude",
                    point_lat_col: str = "latitude",
                    point_lon_col: str = "longitude") -> DataFrame:
    """Inverse-distance-weighted (Shepard, power 2) interpolation of a
    station field onto query points — the gauge-to-grid step a
    discharge-verification user runs to compare the engine's cell
    products against in-situ observations:

        v(q) = Σ_i v_i / d_i²  /  Σ_i 1 / d_i²   over d_i ≤ radius

    Built ON [radius_lookup] (bounded 2-D bucket explode + equi-join +
    exact haversine — never a cross join), then ONE query-keyed
    aggregate.  Determinism: d² quantizes ONCE to integer micros
    (floored at 1 µ — a station within ~1 mm of the query dominates
    naturally instead of dividing by zero), each weight is the exact
    integer ratio 1e18/d²q, station values quantize once, and the
    interpolant closes as the exact integer ratio Σw·v / Σw — zero
    derived-double rounding anywhere.  Returns the `query_`-prefixed
    point columns + (n_stations, idw); points with NO station in
    radius are absent (no interpolation exists — the caller decides
    the fill policy)."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    dec = "decimal(38,0)"
    hits = radius_lookup(stations_df, points_df, radius_km, grid_size,
                         lat_col, lon_col, point_lat_col,
                         point_lon_col)
    qcols = [c for c in hits.columns if c.startswith("query_")]
    d2q = F.greatest(
        F.floor(F.col("distance_km") * F.col("distance_km")
                * F.lit(1_000_000) + F.lit(0.5)).cast("long"),
        F.lit(1)).cast(dec)
    v = F.col(value_col).cast("double")
    vq = (F.signum(v) * F.floor(F.abs(v) * F.lit(1_000_000)
                                + F.lit(0.5))).cast(dec)
    wq = _idiv_half_up(F.lit(10 ** 18).cast(dec), d2q)
    agg = (hits.select(*qcols, (wq * vq).alias("_wv"), wq.alias("_w"))
           .groupBy(*qcols)
           .agg(F.count(F.lit(1)).alias("n_stations"),
                F.sum("_wv").alias("_swv"),
                F.sum("_w").alias("_sw")))
    idw = _idiv_half_up(F.col("_swv"), F.col("_sw")) \
        .cast("double") / F.lit(1e6)
    return (agg.select(*qcols, "n_stations", idw.alias("idw"))
            .orderBy(*qcols))


def polygon_membership(points_df: DataFrame, polygons_df: DataFrame,
                       lat_col: str = "latitude",
                       lon_col: str = "longitude",
                       poly_id_col: str = "poly_id",
                       ring_col: str | None = None,
                       order_col: str = "vertex_idx",
                       vert_lat_col: str = "lat",
                       vert_lon_col: str = "lon",
                       bucket_size: float = 1.0,
                       broadcast_polygons: bool = True,
                       row_id_col: str | None = None) -> DataFrame:
    """Point-in-polygon membership against a polygon RELATION — the
    general form of the reference's serving-time geometry filter
    (``geometry.intersects`` over a user-supplied basin set,
    flood-api-examples.py:199-221): which polygons contain each
    point, for polygons arriving as vertex ROWS
    (poly_id[, ring_id], vertex_idx, lon, lat) rather than the
    constant outline `functions.geometry.point_in_polygon` compiles
    into a literal ladder.

    Even-odd ray casting, one term per edge, same strict-inequality
    convention as the literal ladder (half-open: a point exactly on a
    left/bottom edge is claimed, on a right/top edge is not — so
    adjacent polygons tile the plane without double-claims); rings
    may be open or explicitly closed (the implied /
    zero-length closing edge contributes no crossing).  Pass
    `ring_col` for multi-ring polygons — even-odd over ALL rings of a
    poly_id means interior holes subtract naturally.

    Plan (the [radius_lookup] candidate shape — never a BNLJ):

      1. edges: per-(poly, ring) lead() over vertex order, closing
         edge back to first_value — a window over the VERTEX relation
         only (thousands of rows, never the corpus);
      2. candidates: each polygon's bbox explodes to the grid buckets
         it covers (fan-out = bbox area / bucket_size², a property of
         the polygon set); points bucket ONCE (no explode) and meet
         the broadcast bucket relation in a plain equi-join, then an
         exact bbox filter prunes corner candidates;
      3. verdict: candidates join the broadcast edge relation on
         poly_id, one crossing term per (point, edge) row, and a
         (point, poly) groupBy sums crossings — map-side combined, so
         the only corpus-sized exchange carries candidate pairs, not
         point×edge rows.

    At 100 TB the point table is scanned once, never exploded and
    never shuffled beyond the candidate aggregate; polygon-side
    relations are query-sized broadcasts.  Returns the input point
    columns + (poly_id, n_crossings) for CONTAINING polygons only
    (inner semantics — points in no polygon drop out), one output row
    per (input row, containing poly); duplicate input rows keep their
    multiplicity.  Engine-portable: every crossing term is the same
    double arithmetic as the literal ladder, mirrored in the oracle.
    """
    if bucket_size <= 0:
        raise ValueError(f"polygon_membership: bucket_size must be "
                         f"> 0, got {bucket_size}")
    from pyspark.sql import Window

    polygons_df = _materialize_polys(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    ring = (F.col(ring_col) if ring_col is not None
            else F.lit(0)).alias("_ring")
    verts = polygons_df.select(
        F.col(poly_id_col).alias("poly_id"), ring,
        F.col(order_col).alias("_vo"),
        F.col(vert_lon_col).cast("double").alias("_x1"),
        F.col(vert_lat_col).cast("double").alias("_y1"))
    w = Window.partitionBy("poly_id", "_ring").orderBy("_vo")
    wfull = (Window.partitionBy("poly_id", "_ring").orderBy("_vo")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    edges = (verts
             .withColumn("_x2", F.coalesce(F.lead("_x1").over(w),
                                           F.first("_x1").over(wfull)))
             .withColumn("_y2", F.coalesce(F.lead("_y1").over(w),
                                           F.first("_y1").over(wfull)))
             .drop("_ring", "_vo"))
    bbox = (verts.groupBy("poly_id")
            .agg(F.min("_y1").alias("_ylo"), F.max("_y1").alias("_yhi"),
                 F.min("_x1").alias("_xlo"), F.max("_x1").alias("_xhi")))
    b = float(bucket_size)
    buckets = (bbox
               .withColumn("_blat", F.explode(F.sequence(
                   F.floor(F.col("_ylo") / b).cast("long"),
                   F.floor(F.col("_yhi") / b).cast("long"))))
               .withColumn("_blon", F.explode(F.sequence(
                   F.floor(F.col("_xlo") / b).cast("long"),
                   F.floor(F.col("_xhi") / b).cast("long")))))
    if broadcast_polygons:
        buckets = F.broadcast(buckets)
        edges = F.broadcast(edges)
    py = F.col(lat_col).cast("double")
    px = F.col(lon_col).cast("double")
    pcols = list(points_df.columns)
    for reserved in ("poly_id", "n_crossings", "_rid"):
        if reserved in pcols:
            raise ValueError(
                f"polygon_membership reserves column name "
                f"{reserved!r}; rename it upstream")
    # surrogate row id: duplicate point rows stay distinct through the
    # per-(row, poly) crossing aggregate; dropped before return, so
    # output is layout-independent.  Pass `row_id_col` (a column the
    # caller knows is unique) for STREAMING point sources, where
    # monotonically_increasing_id is unavailable.
    rid = (F.col(row_id_col) if row_id_col is not None
           else F.monotonically_increasing_id())
    pts = (points_df
           .withColumn("_rid", rid)
           .withColumn("_blat", F.floor(py / b).cast("long"))
           .withColumn("_blon", F.floor(px / b).cast("long")))
    cand = (pts.join(buckets, ["_blat", "_blon"])
            .filter(py.between(F.col("_ylo"), F.col("_yhi"))
                    & px.between(F.col("_xlo"), F.col("_xhi")))
            .drop("_blat", "_blon", "_ylo", "_yhi", "_xlo", "_xhi"))
    straddles = (F.col("_y1") > py) != (F.col("_y2") > py)
    cross_x = ((F.col("_x2") - F.col("_x1")) * (py - F.col("_y1"))
               / (F.col("_y2") - F.col("_y1")) + F.col("_x1"))
    term = F.when(straddles & (px < cross_x), 1).otherwise(0)
    scored = (cand.join(edges, "poly_id")
              .select("_rid", "poly_id", *pcols, term.alias("_t"))
              .groupBy("_rid", "poly_id", *pcols)
              .agg(F.sum("_t").cast("int").alias("n_crossings"))
              .filter(F.col("n_crossings") % 2 == 1))
    return scored.select(*pcols, "poly_id", "n_crossings")


def zonal_stats(points_df: DataFrame, polygons_df: DataFrame,
                value_col: str,
                lat_col: str = "latitude", lon_col: str = "longitude",
                poly_id_col: str = "poly_id",
                ring_col: str | None = None,
                order_col: str = "vertex_idx",
                vert_lat_col: str = "lat", vert_lon_col: str = "lon",
                bucket_size: float = 1.0) -> DataFrame:
    """Zonal statistics — per-polygon aggregates of a grid-cell field
    (the basin-aggregated discharge readout a flood-data user actually
    serves: "mean/max forecast over MY catchment outline"), composed
    directly on [polygon_membership]'s candidate plan plus ONE
    poly-keyed aggregate.

    Exactness: the value quantizes ONCE to integer micros; min/max
    compare integers, the sum closes in decimal, and the mean is the
    exact half-up integer ratio sum/n — engine-portable, zero derived-
    double rounding.  NULL values count toward n_cells but not the
    stats (the na-transparent aggregate convention); polygons whose
    interior contains no cell center are absent (no zone exists).

    Scale posture: [polygon_membership]'s single corpus-sized exchange
    (the per-(point, poly) crossing aggregate) feeds a poly-bounded
    groupBy — map-side combined, so the second exchange carries at
    most |polygons| × partitions rows.  Returns (poly_id, n_cells,
    v_min, v_max, v_mean), sorted by poly_id."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    dec = "decimal(38,0)"
    members = polygon_membership(
        points_df, polygons_df, lat_col, lon_col, poly_id_col,
        ring_col, order_col, vert_lat_col, vert_lon_col, bucket_size)
    c = F.col(value_col).cast("double")
    qv = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    agg = (members.select("poly_id", qv.alias("_qv"))
           .groupBy("poly_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.count("_qv").cast(dec).alias("_nv"),
                F.min("_qv").alias("_mn"), F.max("_qv").alias("_mx"),
                F.sum(F.col("_qv").cast(dec)).alias("_s")))
    mega_f = F.lit(1e6)
    mean = F.when(
        F.col("_nv") > 0,
        _idiv_half_up(F.col("_s"), F.col("_nv")).cast("double")
        / mega_f)
    return (agg.select(
        "poly_id", "n_cells",
        (F.col("_mn").cast("double") / mega_f).alias("v_min"),
        (F.col("_mx").cast("double") / mega_f).alias("v_max"),
        mean.alias("v_mean"))
        .orderBy("poly_id"))


def _materialize_polys(polygons_df: DataFrame, *cols) -> DataFrame:
    """Project the polygon relation to exactly the columns the operator
    reads and localCheckpoint it EAGERLY (r16, guide §5 caching /
    §3.3 plan truncation).  The polygon side is polygon-set-sized by
    contract but may be DERIVED from a corpus-scale lineage (e.g.
    rectangles aggregated off a fact table), and every operator in
    this family references it several times — edges, bbox buckets,
    ring signs, nesting depths, representatives — so without
    materialization each reference re-executes the entire upstream
    plan (measured on q_polygon_join: the fact table was scanned 12
    times per execution).  Checkpointing also truncates the
    several-hundred-line polygon preprocessing subtree out of the
    final plan, which on tiny serving queries is itself the dominant
    cost (planning + whole-stage-codegen compile scale with plan
    size).  Values are unchanged — this is pure materialization.

    Streaming inputs are returned as-is (localCheckpoint is a batch
    action; the polygon side of the streaming gates is static by
    contract, so this guard never fires there in practice).

    r17 (VERDICT r16 #6): the checkpointed relation is memoised ON the
    input DataFrame object per requested column set, so a composed
    pipeline passing the SAME polygon DataFrame through several
    operators (membership + zonal + area + a polygon join) materializes
    its corpus-derived lineage once, not once per operator.  The memo
    rides the caller's object lifetime (an attribute, no module-level
    registry — nothing outlives the DataFrame it belongs to, and two
    builds of the same logical relation stay independent)."""
    if polygons_df.isStreaming:
        return polygons_df
    keep = list(dict.fromkeys(c for c in cols if c is not None))
    memo_key = tuple(keep)
    memo = getattr(polygons_df, "_fds_poly_memo", None)
    if memo is not None and memo_key in memo:
        return memo[memo_key]
    # NOT coalesce(1): a coalesced task funnels every parent partition
    # of a Python-parallelized literal through ONE task, spawning a
    # fresh Python worker per parent sequentially (measured 4.2 s per
    # checkpoint, every time); the plain parallel checkpoint is 0.4 s
    # warm
    out = polygons_df.select(*keep).localCheckpoint(eager=True)
    if memo is None:
        memo = {}
        try:
            polygons_df._fds_poly_memo = memo
        except Exception:
            return out  # exotic DataFrame proxy: skip memoisation
    memo[memo_key] = out
    return memo[memo_key]


def _quantize_micro(col: "F.Column") -> "F.Column":
    """Half-up quantization of a coordinate to integer micro-degrees —
    the shared exactness convention (one rounding at the boundary, all
    geometry arithmetic thereafter in integers)."""
    c = col.cast("double")
    return (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                  + F.lit(0.5))).cast("long")


def _orient(px, py, qx, qy, rx, ry) -> "F.Column":
    """Exact integer orientation (twice the signed triangle area):
    >0 r left of p→q, <0 right, =0 collinear.  Micro-degree inputs stay
    far inside long range: |coord| ≤ 2e8 µ ⇒ |term| ≤ 1.6e17."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _on_collinear_seg(px, py, qx, qy, rx, ry) -> "F.Column":
    """Given orient(p,q,r)==0: is r within p→q's bounding box (i.e. ON
    the closed segment)?"""
    return (rx.between(F.least(px, qx), F.greatest(px, qx))
            & ry.between(F.least(py, qy), F.greatest(py, qy)))


def _segments_intersect(ax, ay, bx, by, cx, cy, dx, dy) -> "F.Column":
    """Closed-segment intersection a→b vs c→d, exact integer orientation
    tests (proper crossing + all four collinear/endpoint-touch cases).
    Zero-length segments degrade gracefully (both orients 0 → pure
    on-segment test)."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    proper = ((((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
              & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0))))
    touch = (((o1 == 0) & _on_collinear_seg(ax, ay, bx, by, cx, cy))
             | ((o2 == 0) & _on_collinear_seg(ax, ay, bx, by, dx, dy))
             | ((o3 == 0) & _on_collinear_seg(cx, cy, dx, dy, ax, ay))
             | ((o4 == 0) & _on_collinear_seg(cx, cy, dx, dy, bx, by)))
    return proper | touch


def _crossing_term_int(px, py, x1, y1, x2, y2) -> "F.Column":
    """One even-odd ray-casting term in EXACT integer arithmetic: does
    the horizontal ray from (px, py) toward +x cross edge (x1,y1)→
    (x2,y2)?  Same half-open convention as [polygon_membership]'s
    double form ((y1 > py) != (y2 > py), strict abscissa compare), but
    the division is cleared by cross-multiplying with the sign of
    (y2 - y1) — engine-portable without a single derived double."""
    straddles = ((y1 > py) != (y2 > py))
    lhs = (px - x1) * (y2 - y1)
    rhs = (x2 - x1) * (py - y1)
    before = F.when(y2 > y1, lhs < rhs).otherwise(lhs > rhs)
    return F.when(straddles & before, 1).otherwise(0)


def _polygon_rings(polygons_df: DataFrame, poly_id_col: str,
                   ring_col: str | None, order_col: str,
                   vert_lat_col: str, vert_lon_col: str):
    """Shared vertex→(edges, ring signed areas, ring signs) derivation
    for the polygon-relation operators.  All relations are polygon-set
    sized (vertex rows, never the corpus).

    Returns (edges, ring_signs):
      edges:      poly_id, _ring, _qx1, _qy1, _qx2, _qy2 (closing edge
                  included; integer micros)
      ring_signs: poly_id, _ring, _a2 (|shoelace|·sign, micro², decimal;
                  even-odd nesting — a ring inside an odd number of its
                  polygon's OTHER rings is a hole and carries -|A2|,
                  depth-2 islands flip back to +), _rep (the ring's
                  min-struct vertex — a layout-independent
                  representative; for a depth-even ring it is a point
                  OF the polygon's filled region)
    """
    from pyspark.sql import Window

    ring = (F.col(ring_col) if ring_col is not None
            else F.lit(0)).alias("_ring")
    verts = polygons_df.select(
        F.col(poly_id_col).alias("poly_id"), ring,
        F.col(order_col).alias("_vo"),
        _quantize_micro(F.col(vert_lon_col)).alias("_qx1"),
        _quantize_micro(F.col(vert_lat_col)).alias("_qy1"))
    w = Window.partitionBy("poly_id", "_ring").orderBy("_vo")
    wfull = (Window.partitionBy("poly_id", "_ring").orderBy("_vo")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    edges = (verts
             .withColumn("_qx2", F.coalesce(F.lead("_qx1").over(w),
                                            F.first("_qx1").over(wfull)))
             .withColumn("_qy2", F.coalesce(F.lead("_qy1").over(w),
                                            F.first("_qy1").over(wfull)))
             .drop("_vo"))
    dec = "decimal(38,0)"
    shoelace = (F.col("_qx1").cast(dec) * F.col("_qy2").cast(dec)
                - F.col("_qx2").cast(dec) * F.col("_qy1").cast(dec))
    rings = (edges.groupBy("poly_id", "_ring")
             .agg(F.sum(shoelace).alias("_sa2"),
                  F.min(F.struct("_qx1", "_qy1")).alias("_rep")))
    # even-odd nesting depth: the ring's first (min-struct) vertex
    # ray-cast against every OTHER ring of the same polygon.  Rings are
    # assumed properly nested (no partial ring overlap) — the standard
    # polygon validity contract; a hole's vertex is then strictly
    # inside each enclosing ring.
    o_edges = edges.select("poly_id", F.col("_ring").alias("_oring"),
                           "_qx1", "_qy1", "_qx2", "_qy2")
    term = _crossing_term_int(
        F.col("_rep._qx1"), F.col("_rep._qy1"),
        F.col("_qx1"), F.col("_qy1"), F.col("_qx2"), F.col("_qy2"))
    # every relation here is ring/edge-sized by contract, but they
    # descend from Scan ExistingRDD / checkpoint nodes whose size
    # statistics default to "huge" — without explicit hints the
    # planner picks SortMergeJoin + two exchanges for joins that carry
    # dozens of rows (r16, guide §3.1: estimates are often badly
    # wrong; hint when you know a side is small)
    depth = (F.broadcast(rings.select("poly_id", "_ring", "_rep"))
             .join(o_edges, "poly_id")
             .filter(F.col("_oring") != F.col("_ring"))
             .groupBy("poly_id", "_ring", "_oring")
             .agg(F.sum(term).alias("_cr"))
             .filter(F.col("_cr") % 2 == 1)
             .groupBy("poly_id", "_ring")
             .agg(F.count(F.lit(1)).alias("_depth")))
    ring_signs = (rings.join(F.broadcast(depth), ["poly_id", "_ring"],
                             "left")
                  .select("poly_id", "_ring",
                          F.when(F.coalesce("_depth", F.lit(0)) % 2 == 0,
                                 F.abs("_sa2"))
                          .otherwise(-F.abs("_sa2")).alias("_a2"),
                          "_rep"))
    return edges, ring_signs


def polygon_area(polygons_df: DataFrame,
                 poly_id_col: str = "poly_id",
                 ring_col: str | None = None,
                 order_col: str = "vertex_idx",
                 vert_lat_col: str = "lat",
                 vert_lon_col: str = "lon") -> DataFrame:
    """Exact even-odd area of each polygon in a vertex-row RELATION —
    the serving-side "how big is MY basin outline" companion to
    [polygon_membership] (reference family: geopandas ``.area`` over
    the user geometry set, flood-api-examples.py:199-221).

    Exactness: vertices quantize ONCE to integer micro-degrees; each
    ring's shoelace sum is an exact decimal integer in micro²; nesting
    depth (hole vs island) comes from the integer ray-cast of the
    ring's first vertex against its polygon's other rings, so holes
    subtract and depth-2 islands add back — even-odd semantics without
    any orientation convention on the input (CW and CCW rings are
    equivalent).  The single double appears at the very end
    (area2 / 2e12 → degrees²).

    Scale posture: every relation is polygon-set sized (vertex rows);
    the corpus is never touched.  The depth test is Σ_poly R²·E worst
    case — a property of the query geometry, not the data.  Returns
    (poly_id, n_rings, area) ordered by poly_id."""
    polygons_df = _materialize_polys(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    _, ring_signs = _polygon_rings(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    return (ring_signs.groupBy("poly_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_rings"),
                 F.sum("_a2").alias("_area2"))
            .select("poly_id", "n_rings",
                    (F.col("_area2").cast("double") / F.lit(2e12))
                    .alias("area"))
            .orderBy("poly_id"))


def _box_poly_candidates(boxes_df: DataFrame, polygons_df: DataFrame,
                         lat_min_col: str, lat_max_col: str,
                         lon_min_col: str, lon_max_col: str,
                         poly_id_col: str, ring_col: str | None,
                         order_col: str, vert_lat_col: str,
                         vert_lon_col: str, bucket_size: float,
                         max_box_span: float | None,
                         broadcast_polygons: bool, op_name: str,
                         reserved: tuple):
    """Shared candidate generator for the box×polygon operators:
    polygons explode to covering grid buckets (padded by half
    ``max_box_span`` so a box whose CENTER buckets elsewhere still
    meets its polygon), boxes bucket ONCE by center, equi-join + exact
    integer bbox-overlap prune.  Never a BNLJ; the box table is
    scanned once and never exploded.

    Returns (cand, pcols, edges): cand carries the original box
    columns + ``_rid`` + quantized extents ``_bxlo/_bxhi/_bylo/_byhi``
    + ``poly_id``; edges is the (possibly broadcast) closed edge
    relation WITH its ``_ring`` column."""
    if bucket_size <= 0:
        raise ValueError(f"{op_name}: bucket_size must be > 0, "
                         f"got {bucket_size}")
    span = float(max_box_span if max_box_span is not None
                 else bucket_size)
    edges, _ = _polygon_rings(polygons_df, poly_id_col, ring_col,
                              order_col, vert_lat_col, vert_lon_col)
    b = float(bucket_size)
    pad = span / 2.0
    bbox = (edges.groupBy("poly_id")
            .agg(F.min(F.least("_qy1", "_qy2")).alias("_qylo"),
                 F.max(F.greatest("_qy1", "_qy2")).alias("_qyhi"),
                 F.min(F.least("_qx1", "_qx2")).alias("_qxlo"),
                 F.max(F.greatest("_qx1", "_qx2")).alias("_qxhi")))
    buckets = (bbox
               .withColumn("_blat", F.explode(F.sequence(
                   F.floor((F.col("_qylo") / 1e6 - pad) / b)
                   .cast("long"),
                   F.floor((F.col("_qyhi") / 1e6 + pad) / b)
                   .cast("long"))))
               .withColumn("_blon", F.explode(F.sequence(
                   F.floor((F.col("_qxlo") / 1e6 - pad) / b)
                   .cast("long"),
                   F.floor((F.col("_qxhi") / 1e6 + pad) / b)
                   .cast("long")))))
    if broadcast_polygons:
        buckets = F.broadcast(buckets)
        edges = F.broadcast(edges)
    pcols = list(boxes_df.columns)
    for r in reserved:
        if r in pcols:
            raise ValueError(f"{op_name} reserves column name {r!r}; "
                             f"rename it upstream")
    bxlo = _quantize_micro(F.col(lon_min_col))
    bxhi = _quantize_micro(F.col(lon_max_col))
    bylo = _quantize_micro(F.col(lat_min_col))
    byhi = _quantize_micro(F.col(lat_max_col))
    boxes = (boxes_df
             .withColumn("_rid", F.monotonically_increasing_id())
             .withColumn("_bxlo", bxlo).withColumn("_bxhi", bxhi)
             .withColumn("_bylo", bylo).withColumn("_byhi", byhi)
             .withColumn("_blat", F.floor(
                 ((bylo + byhi) / F.lit(2e6)) / b).cast("long"))
             .withColumn("_blon", F.floor(
                 ((bxlo + bxhi) / F.lit(2e6)) / b).cast("long")))
    cand = (boxes.join(buckets, ["_blat", "_blon"])
            .filter((F.col("_bxhi") >= F.col("_qxlo"))
                    & (F.col("_bxlo") <= F.col("_qxhi"))
                    & (F.col("_byhi") >= F.col("_qylo"))
                    & (F.col("_bylo") <= F.col("_qyhi")))
            .drop("_blat", "_blon", "_qxlo", "_qxhi", "_qylo", "_qyhi"))
    return cand, pcols, edges


def polygon_box_intersects(boxes_df: DataFrame, polygons_df: DataFrame,
                           lat_min_col: str = "lat_min",
                           lat_max_col: str = "lat_max",
                           lon_min_col: str = "lon_min",
                           lon_max_col: str = "lon_max",
                           poly_id_col: str = "poly_id",
                           ring_col: str | None = None,
                           order_col: str = "vertex_idx",
                           vert_lat_col: str = "lat",
                           vert_lon_col: str = "lon",
                           bucket_size: float = 1.0,
                           max_box_span: float | None = None,
                           broadcast_polygons: bool = True) -> DataFrame:
    """TRUE closed-set ``intersects`` between axis-aligned boxes (grid
    cells with extent, query rectangles) and an even-odd polygon
    RELATION — the full general form of the reference's
    ``geometry.intersects`` serving filter
    (flood-api-examples.py:199-221).  [polygon_membership] answers
    "which polygons contain the cell CENTER"; this answers "which
    polygons touch the cell AT ALL", including boundary-grazing and
    corner-touch cases a center test misses.

    Decomposition (complete for closed sets):
      a. any polygon vertex inside the closed box, or
      b. any polygon edge intersects any of the 4 box edges (exact
         integer orientation tests incl. collinear touches), or
      c. neither — the box boundary is then uniformly inside or
         outside the filled region, and the box CENTER's even-odd
         parity decides (tested at doubled-micro coordinates so the
         half-micro center stays integer).

    Every comparison is integer micro-degree arithmetic — zero derived
    doubles, engine-portable bit-for-bit.

    Plan: the [polygon_membership] candidate shape — polygons explode
    to covering grid buckets (padded by ``max_box_span`` so a box
    whose CENTER buckets elsewhere still meets its polygon), boxes
    bucket once by center, equi-join + exact bbox-overlap prune, then
    the broadcast edge relation scores each candidate and ONE
    map-side-combined aggregate per (box, poly) folds the three
    predicates.  Never a BNLJ; the single corpus-sized exchange
    carries candidate pairs.

    Returns the input box columns + (poly_id, touches_boundary,
    center_inside) for intersecting polygons only."""
    polygons_df = _materialize_polys(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    cand, pcols, edges = _box_poly_candidates(
        boxes_df, polygons_df, lat_min_col, lat_max_col, lon_min_col,
        lon_max_col, poly_id_col, ring_col, order_col, vert_lat_col,
        vert_lon_col, bucket_size, max_box_span, broadcast_polygons,
        "polygon_box_intersects",
        ("poly_id", "touches_boundary", "center_inside", "_rid"))

    x1, y1 = F.col("_qx1"), F.col("_qy1")
    x2, y2 = F.col("_qx2"), F.col("_qy2")
    cxlo, cxhi = F.col("_bxlo"), F.col("_bxhi")
    cylo, cyhi = F.col("_bylo"), F.col("_byhi")
    vertex_in = (x1.between(cxlo, cxhi) & y1.between(cylo, cyhi))
    box_edges = [(cxlo, cylo, cxhi, cylo), (cxlo, cyhi, cxhi, cyhi),
                 (cxlo, cylo, cxlo, cyhi), (cxhi, cylo, cxhi, cyhi)]
    edge_hits = None
    for (ex1, ey1, ex2, ey2) in box_edges:
        t = _segments_intersect(x1, y1, x2, y2, ex1, ey1, ex2, ey2)
        edge_hits = t if edge_hits is None else (edge_hits | t)
    boundary = vertex_in | edge_hits
    # center parity at doubled micros: center·2 = lo + hi (integer)
    ctr = _crossing_term_int(cxlo + cxhi, cylo + cyhi,
                             2 * x1, 2 * y1, 2 * x2, 2 * y2)
    scored = (cand.join(edges, "poly_id")
              .select("_rid", "poly_id", *pcols,
                      F.when(boundary, 1).otherwise(0).alias("_b"),
                      ctr.alias("_c"))
              .groupBy("_rid", "poly_id", *pcols)
              .agg(F.max("_b").alias("_tb"),
                   F.sum("_c").alias("_nc"))
              .filter((F.col("_tb") == 1) | (F.col("_nc") % 2 == 1)))
    return scored.select(
        *pcols, "poly_id",
        (F.col("_tb") == 1).alias("touches_boundary"),
        (F.col("_nc") % 2 == 1).alias("center_inside"))


def _clip_half_plane(state: DataFrame, axis: str, keep_ge: bool,
                     bound_col: str) -> DataFrame:
    """One Sutherland–Hodgman clip of every (box, poly, ring) vertex
    sequence against an axis-aligned half-plane (``axis`` coordinate
    kept >= or <= the per-row ``bound_col``).  Standard S-H edge
    emission — entering edges emit (intersection, endpoint), interior
    edges the endpoint, exiting edges the intersection — realized as
    one window (closing edge via first_value) + one conditional-array
    explode; ``_seq`` doubles so emission order stays total without a
    renumber.  Intersections round half-up to integer micros via the
    exact decimal ratio (`_idiv_half_up` with the denominator sign
    normalized out), so both engines place them identically."""
    from pyspark.sql import Window

    from flood_data_spark.datapipe.linalg import _idiv_half_up

    dec = "decimal(38,0)"
    w = Window.partitionBy("_rid", "poly_id", "_ring").orderBy("_seq")
    wf = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    d = (state
         .withColumn("_x2", F.coalesce(F.lead("_x").over(w),
                                       F.first("_x").over(wf)))
         .withColumn("_y2", F.coalesce(F.lead("_y").over(w),
                                       F.first("_y").over(wf))))
    b = F.col(bound_col)
    c1 = F.col("_x") if axis == "x" else F.col("_y")
    c2 = F.col("_x2") if axis == "x" else F.col("_y2")
    in1 = (c1 >= b) if keep_ge else (c1 <= b)
    in2 = (c2 >= b) if keep_ge else (c2 <= b)
    # intersection of the edge with the clip line: the off-axis
    # coordinate moves by the exact rational Δother·(b-c1)/(c2-c1),
    # rounded half-up (denominator != 0 whenever a crossing branch is
    # taken: in1 != in2 forces c1 != c2)
    den = (c2 - c1).cast(dec)
    sgn = F.when(den < 0, F.lit(-1)).otherwise(F.lit(1)).cast(dec)
    other1 = F.col("_y") if axis == "x" else F.col("_x")
    other2 = F.col("_y2") if axis == "x" else F.col("_x2")
    num = (other2 - other1).cast(dec) * (b - c1).cast(dec)
    icross = (other1.cast(dec)
              + _idiv_half_up(num * sgn, F.abs(den))).cast("long")
    if axis == "x":
        ipt = F.struct(F.lit(0).alias("o"), b.alias("x"),
                       icross.alias("y"))
    else:
        ipt = F.struct(F.lit(0).alias("o"), icross.alias("x"),
                       b.alias("y"))
    vpt = F.struct(F.lit(1).alias("o"), F.col("_x2").alias("x"),
                   F.col("_y2").alias("y"))
    empty = F.array().cast("array<struct<o:int,x:bigint,y:bigint>>")
    ems = (F.when(in2 & ~in1, F.array(ipt, vpt))
           .when(in2, F.array(vpt))
           .when(in1, F.array(ipt))
           .otherwise(empty))
    keep = [c for c in state.columns if c not in ("_seq", "_x", "_y")]
    return (d.select(*keep, "_seq", F.explode(ems).alias("_e"))
            .select(*keep,
                    (F.col("_seq") * 2 + F.col("_e.o")).alias("_seq"),
                    F.col("_e.x").alias("_x"),
                    F.col("_e.y").alias("_y")))


def zonal_stats_weighted(boxes_df: DataFrame, polygons_df: DataFrame,
                         value_col: str,
                         lat_min_col: str = "lat_min",
                         lat_max_col: str = "lat_max",
                         lon_min_col: str = "lon_min",
                         lon_max_col: str = "lon_max",
                         poly_id_col: str = "poly_id",
                         ring_col: str | None = None,
                         order_col: str = "vertex_idx",
                         vert_lat_col: str = "lat",
                         vert_lon_col: str = "lon",
                         bucket_size: float = 1.0,
                         max_box_span: float | None = None,
                         broadcast_polygons: bool = True) -> DataFrame:
    """AREA-WEIGHTED zonal statistics — what real zonal stats do:
    each grid CELL BOX contributes to its polygon proportionally to
    the covered fraction, so boundary cells stop over/under-counting
    (the [zonal_stats] center-in rule rounds them to all-or-nothing).

    Per candidate (cell, poly): every polygon RING clips against the
    cell box via 4 relational Sutherland–Hodgman half-plane passes
    ([_clip_half_plane] — window + conditional explode each, zero
    UDFs), the clipped ring closes through an integer-micro shoelace,
    and even-odd nesting signs from [_polygon_rings] make holes
    subtract (S-H's degenerate connector edges along the clip
    boundary traverse identical rounded vertices both ways, so their
    shoelace terms cancel exactly).  The per-candidate covered area
    clamps at 0 (micro-rounding can leave a hole a few µ² over its
    shell) and feeds ONE poly-keyed aggregate: the weighted mean is
    the exact decimal ratio Σ q·w / Σ w — the only doubles are the
    final /2e12 and /1e6 seams.

    NULL values keep their cell's area in ``area`` but drop out of the
    mean (the na-transparent convention); polygons covering zero cell
    area are absent.  Scale posture: [_box_poly_candidates]' single
    corpus-sized exchange, then every relation is candidates ×
    polygon vertices — the 4 clip windows share one partitioning
    (``_rid``, poly, ring), so the chain shuffles the candidate-vertex
    relation once and re-sorts in place.  Returns (poly_id, n_cells,
    area, v_wmean) ordered by poly_id."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    dec = "decimal(38,0)"
    polygons_df = _materialize_polys(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    cand, pcols, _ = _box_poly_candidates(
        boxes_df, polygons_df, lat_min_col, lat_max_col, lon_min_col,
        lon_max_col, poly_id_col, ring_col, order_col, vert_lat_col,
        vert_lon_col, bucket_size, max_box_span, broadcast_polygons,
        "zonal_stats_weighted",
        ("poly_id", "n_cells", "area", "v_wmean", "_rid"))
    ring = (F.col(ring_col) if ring_col is not None
            else F.lit(0)).alias("_ring")
    verts = polygons_df.select(
        F.col(poly_id_col).alias("poly_id"), ring,
        F.col(order_col).cast("long").alias("_seq"),
        _quantize_micro(F.col(vert_lon_col)).alias("_x"),
        _quantize_micro(F.col(vert_lat_col)).alias("_y"))
    _, ring_signs = _polygon_rings(
        polygons_df, poly_id_col, ring_col, order_col,
        vert_lat_col, vert_lon_col)
    if broadcast_polygons:
        verts = F.broadcast(verts)
        ring_signs = F.broadcast(ring_signs)
    v = F.col(value_col).cast("double")
    qv = (F.signum(v) * F.floor(F.abs(v) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    state = (cand.withColumn("_qv", qv)
             .select("_rid", "poly_id", "_bxlo", "_bxhi", "_bylo",
                     "_byhi", "_qv")
             .join(verts, "poly_id"))
    for axis, keep_ge, bound in (("x", True, "_bxlo"),
                                 ("x", False, "_bxhi"),
                                 ("y", True, "_bylo"),
                                 ("y", False, "_byhi")):
        state = _clip_half_plane(state, axis, keep_ge, bound)
    from pyspark.sql import Window
    w = Window.partitionBy("_rid", "poly_id", "_ring").orderBy("_seq")
    wf = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    closed = (state
              .withColumn("_x2", F.coalesce(F.lead("_x").over(w),
                                            F.first("_x").over(wf)))
              .withColumn("_y2", F.coalesce(F.lead("_y").over(w),
                                            F.first("_y").over(wf))))
    shoelace = (F.col("_x").cast(dec) * F.col("_y2").cast(dec)
                - F.col("_x2").cast(dec) * F.col("_y").cast(dec))
    per_ring = (closed.groupBy("_rid", "poly_id", "_ring")
                .agg(F.sum(shoelace).alias("_c2"),
                     F.min("_qv").alias("_qv")))
    sgn = ring_signs.select(
        "poly_id", "_ring",
        F.when(F.col("_a2") >= 0, F.lit(1))
        .otherwise(F.lit(-1)).cast(dec).alias("_sgn"))
    per_cand = (per_ring.join(sgn, ["poly_id", "_ring"])
                .groupBy("_rid", "poly_id")
                .agg(F.greatest(
                    F.lit(0).cast(dec),
                    F.sum(F.col("_sgn") * F.abs("_c2"))).alias("_w2"),
                    F.min("_qv").alias("_qv")))
    out = (per_cand.groupBy("poly_id")
           .agg(F.sum(F.when(F.col("_w2") > 0, 1).otherwise(0))
                .cast("long").alias("n_cells"),
                F.sum("_w2").alias("_a2s"),
                F.sum(F.when(F.col("_qv").isNotNull(),
                             F.col("_qv").cast(dec) * F.col("_w2")))
                .alias("_vw"),
                F.sum(F.when(F.col("_qv").isNotNull(), F.col("_w2")))
                .alias("_ww"))
           .filter(F.col("n_cells") > 0))
    return (out.select(
        "poly_id", "n_cells",
        (F.col("_a2s").cast("double") / F.lit(2e12)).alias("area"),
        F.when(F.col("_ww") > 0,
               _idiv_half_up(F.col("_vw"), F.col("_ww"))
               .cast("double") / F.lit(1e6)).alias("v_wmean"))
        .orderBy("poly_id"))


def polygon_polygon_intersects(polys_a: DataFrame, polys_b: DataFrame,
                               poly_id_col: str = "poly_id",
                               ring_col: str | None = None,
                               order_col: str = "vertex_idx",
                               vert_lat_col: str = "lat",
                               vert_lon_col: str = "lon",
                               bucket_size: float = 1.0,
                               broadcast_a: bool = True,
                               broadcast_b: bool = True) -> DataFrame:
    """General GEOMETRY-SET join: TRUE closed-set ``intersects``
    between two polygon RELATIONS — the last arbitrary-geometry shape
    in the reference family (user basin shapefiles × forecast product
    outlines, flood-api-examples.py:199-221), with no axis-alignment
    assumption on either side.

    Decomposition (complete for closed even-odd sets):
      a. any edge of A intersects any edge of B (the exact integer
         16-orientation battery incl. collinear/endpoint touches), or
      b. no boundary contact — then each filled region lies uniformly
         inside or outside the other, and two representative-point
         parity tests decide: A's representative (the min-struct
         vertex of a nesting-depth-EVEN ring — a point OF the filled
         region, never a hole vertex) ray-cast against B's edges, and
         symmetrically B's against A's.
    A representative landing exactly ON the other boundary is already
    case (a) — the rep is an edge endpoint, and endpoint touches
    count — so the half-open parity convention never loses a hit.

    Plan: both sides explode their bboxes to covering grid buckets,
    candidate pairs come from the bucket equi-join (exact bbox-overlap
    prune + distinct — a polygon pair sharing many buckets meets
    once), and the three predicate relations (edge×edge, repA×edgesB,
    repB×edgesA) UNION into ONE map-side-combined (pa, pb) aggregate.
    Never a BNLJ.  Either side may be corpus-scale if the other
    broadcasts (``broadcast_a``/``broadcast_b``).

    Both relations use the same vertex-row column names.  Returns
    (poly_a, poly_b, touches_boundary, a_in_b, b_in_a) for
    intersecting pairs, ordered by (poly_a, poly_b)."""
    if bucket_size <= 0:
        raise ValueError(f"polygon_polygon_intersects: bucket_size "
                         f"must be > 0, got {bucket_size}")
    b = float(bucket_size)
    polys_a = _materialize_polys(polys_a, poly_id_col, ring_col,
                                 order_col, vert_lat_col, vert_lon_col)
    polys_b = _materialize_polys(polys_b, poly_id_col, ring_col,
                                 order_col, vert_lat_col, vert_lon_col)

    def _side(polys, tag, do_broadcast):
        edges, signs = _polygon_rings(polys, poly_id_col, ring_col,
                                      order_col, vert_lat_col,
                                      vert_lon_col)
        pid = f"p{tag}"
        e = edges.select(
            F.col("poly_id").alias(pid),
            F.col("_qx1").alias(f"{tag}x1"),
            F.col("_qy1").alias(f"{tag}y1"),
            F.col("_qx2").alias(f"{tag}x2"),
            F.col("_qy2").alias(f"{tag}y2"))
        bbox = (e.groupBy(pid)
                .agg(F.min(F.least(f"{tag}y1", f"{tag}y2"))
                     .alias(f"_{tag}ylo"),
                     F.max(F.greatest(f"{tag}y1", f"{tag}y2"))
                     .alias(f"_{tag}yhi"),
                     F.min(F.least(f"{tag}x1", f"{tag}x2"))
                     .alias(f"_{tag}xlo"),
                     F.max(F.greatest(f"{tag}x1", f"{tag}x2"))
                     .alias(f"_{tag}xhi")))
        buckets = (bbox
                   .withColumn("_blat", F.explode(F.sequence(
                       F.floor(F.col(f"_{tag}ylo") / F.lit(b * 1e6))
                       .cast("long"),
                       F.floor(F.col(f"_{tag}yhi") / F.lit(b * 1e6))
                       .cast("long"))))
                   .withColumn("_blon", F.explode(F.sequence(
                       F.floor(F.col(f"_{tag}xlo") / F.lit(b * 1e6))
                       .cast("long"),
                       F.floor(F.col(f"_{tag}xhi") / F.lit(b * 1e6))
                       .cast("long")))))
        # filled-region representative: min-struct vertex over
        # depth-even rings (a polygon with no valid outer ring — all
        # rings degenerate — drops out, honestly: it has no region)
        rep = (signs.filter(F.col("_a2") >= 0)
               .groupBy("poly_id")
               .agg(F.min("_rep").alias("_r"))
               .select(F.col("poly_id").alias(pid),
                       F.col("_r._qx1").alias(f"{tag}rx"),
                       F.col("_r._qy1").alias(f"{tag}ry")))
        if do_broadcast:
            e, buckets, rep = (F.broadcast(e), F.broadcast(buckets),
                               F.broadcast(rep))
        return e, buckets, rep

    ea, bka, repa = _side(polys_a, "a", broadcast_a)
    eb, bkb, repb = _side(polys_b, "b", broadcast_b)
    pairs = (bka.join(bkb, ["_blat", "_blon"])
             .filter((F.col("_axhi") >= F.col("_bxlo"))
                     & (F.col("_axlo") <= F.col("_bxhi"))
                     & (F.col("_ayhi") >= F.col("_bylo"))
                     & (F.col("_aylo") <= F.col("_byhi")))
             .select("pa", "pb").distinct())

    seg = _segments_intersect(
        F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"))
    t_edge = (pairs.join(ea, "pa").join(eb, "pb")
              .select("pa", "pb",
                      F.when(seg, 1).otherwise(0).alias("_t"),
                      F.lit(0).alias("_ca"), F.lit(0).alias("_cb")))
    t_a_in_b = (pairs.join(repa, "pa").join(eb, "pb")
                .select("pa", "pb", F.lit(0).alias("_t"),
                        _crossing_term_int(
                            F.col("arx"), F.col("ary"),
                            F.col("bx1"), F.col("by1"),
                            F.col("bx2"), F.col("by2")).alias("_ca"),
                        F.lit(0).alias("_cb")))
    t_b_in_a = (pairs.join(repb, "pb").join(ea, "pa")
                .select("pa", "pb", F.lit(0).alias("_t"),
                        F.lit(0).alias("_ca"),
                        _crossing_term_int(
                            F.col("brx"), F.col("bry"),
                            F.col("ax1"), F.col("ay1"),
                            F.col("ax2"), F.col("ay2")).alias("_cb")))
    scored = (t_edge.unionByName(t_a_in_b).unionByName(t_b_in_a)
              .groupBy("pa", "pb")
              .agg(F.max("_t").alias("_tb"),
                   F.sum("_ca").alias("_na"),
                   F.sum("_cb").alias("_nb"))
              .filter((F.col("_tb") == 1) | (F.col("_na") % 2 == 1)
                      | (F.col("_nb") % 2 == 1)))
    return (scored.select(
        F.col("pa").alias("poly_a"), F.col("pb").alias("poly_b"),
        (F.col("_tb") == 1).alias("touches_boundary"),
        (F.col("_na") % 2 == 1).alias("a_in_b"),
        (F.col("_nb") % 2 == 1).alias("b_in_a"))
        .orderBy("poly_a", "poly_b"))
