"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry demonstrates one operator family from SURVEY.md §2
(or a beyond-reference training-data-pipeline operator) on the driver's
synthetic tables, routed through the ``flood_data_spark`` library operators
wherever the semantics map.  ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL; column names/aliases match pairwise (the driver sorts columns by
name and hash-compares values).

Conventions for hash-stable parity:
- every probability / interpolated / averaged double is round(…, 6) on BOTH
  sides; money sums are round(…, 2);
- min/max/raw values stay unrounded (bit-identical by construction);
- every windowed top-1 carries a deterministic final tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flood_data_spark.datapipe.dedup import (
    corpus_diff,
    dedup_against,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_containment,
    ngram_jaccard_join,
    ngram_jaccard_pairs,
    repeated_span_stats,
    simhash,
    simhash_dup_pairs,
)
from flood_data_spark.datapipe.similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucketed_topk,
    semantic_dedup,
)
from flood_data_spark.datapipe.curation import (
    assign_split,
    cap_per_key,
    chunk_documents,
    clean_lines,
    dedup_lines,
    hash_sample,
    leakage_safe_split,
    length_buckets,
    pack_sequences,
    redact_pii,
    stratified_sample,
    with_shuffle_key,
)
from flood_data_spark.datapipe.text import (
    bpe_token_count,
    build_vocab,
    repetition_signals,
    token_count,
    tfidf_topk,
    with_fingerprint,
    with_lang_id,
    with_bpe_token_count,
    with_quality_signals,
    with_token_count,
)
from flood_data_spark.functions.geometry import add_geometry, restrict_area
from flood_data_spark.functions.keys import with_morton_key
from flood_data_spark.datapipe.quantize import (
    cosine_topk_quantized,
    quantize_embeddings,
)
from flood_data_spark.datapipe.sketches import (
    corpus_report,
    hll_contract,
    token_heavy_hitters,
)
from flood_data_spark.operators.grid import upstream_mask
from flood_data_spark.operators.intensity import flood_intensity
from flood_data_spark.operators.peak_timing import flood_peak_timing
from flood_data_spark.operators.serving import neighborhood_lookup, point_lookup
from flood_data_spark.operators.timeseries import (
    asof_join,
    pattern_topk,
    resample_ffill,
    sessionize,
)
from flood_data_spark.operators.summary import assemble_summary
from flood_data_spark.operators.tendency import flood_tendency
from flood_data_spark.operators.threshold import (
    combine_threshold_rasters,
    ensemble_threshold_summary,
)

SF_SMOKE = "/root/testdata/sf0.001"


def _scratch_dir(prefix: str) -> str:
    """Scratch directory for gate-internal stores/checkpoints, in the
    default temp directory (TMPDIR): a tmpfs such as /dev/shm would take
    from the same RAM as the session's heap.  Callers shutil.rmtree it."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Queries must be self-sufficient under a vanilla SparkSession (the
    # driver's harness builds its own): pin the session timezone so
    # timestamp bucketing (to_date / date_trunc / window) matches the
    # UTC-normalized DuckDB oracle on any driver host, not just UTC ones.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): a vanilla session raises
        # PARQUET_TYPE_ILLEGAL on read.  The legacy conf is runtime-settable,
        # so set it here instead of relying on session-factory configuration.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is TIMESTAMP(NANOS) parquet, surfaced as ns-epoch long via
    # spark.sql.legacy.parquet.nanosAsLong; normalize to a real timestamp
    # (truncate ns → µs, matching DuckDB's µs-precision TIMESTAMP).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, NOT `/`: float division of ns-epoch longs loses the
        # low bits past double precision (observed +1 µs drift)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Spark 4 reads timezone-less parquet timestamps (timestamp[us], no tz)
    # as TIMESTAMP_NTZ, which unix_micros()/range frames reject.  Under the
    # UTC session pinned above, casting NTZ -> TIMESTAMP (LTZ) is
    # value-identical to DuckDB's naive-µs TIMESTAMP reading.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# =====================================================================
# Flood-engine operators mapped onto the synthetic tables
# =====================================================================

def _thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared part→thresholds projection (2y/5y/20y = retailprice ×
    0.8/1.0/1.2) — ONE definition for the flagship, its approx twin, and
    the streaming parity query, so a factor change cannot silently desync
    the twins (each oracle SQL mirrors these constants)."""
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))


def q_threshold_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A1/A1a/A1b + §2.3 J1: ensemble exceedance fractions and
    exact 5-number summary.  lineitem plays the ensemble (one row per
    member), part plays the static threshold table (broadcast left join)."""
    forecast = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))
    thresholds = _thresholds(spark, sf_dir)
    out = ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("partkey",))
    return out.select(
        "partkey",
        F.round("p_above_2y", 6).alias("p_above_2y"),
        F.round("p_above_5y", 6).alias("p_above_5y"),
        F.round("p_above_20y", 6).alias("p_above_20y"),
        F.col("min_dis"),
        F.round("Q1_dis", 6).alias("q1_dis"),
        F.round("median_dis", 6).alias("median_dis"),
        F.round("Q3_dis", 6).alias("q3_dis"),
        F.col("max_dis"))


def q_threshold_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accuracy_mode='approx' (percentile_approx sketch, single pass,
    mergeable) — the 100 TB scale path — with a BOUNDS CONTRACT the oracle
    can check: sketch values can't be equality-compared across engines, but
    each approx quantile q̂ must (a) be an actual element of its group,
    (b) lie in [min, max], and (c) have rank within the sketch's rank-error
    guarantee (1/accuracy, default 1e-4) of the target, ±1 rank of integer
    slack.  Spark computes the booleans from the real sketch output; the
    DuckDB oracle asserts them TRUE alongside the exactly-checkable
    aggregates (exceedance fractions, min, max, count)."""
    forecast = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))
    thresholds = _thresholds(spark, sf_dir)
    summ = ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="approx",
        join_keys=("partkey",), group_keys=("partkey",))
    return _approx_bounds_contract(forecast, summ)


def _approx_bounds_contract(forecast: DataFrame, summ: DataFrame,
                            eps: float = 1.0 / 10000) -> DataFrame:
    """Shared sketch-verification wrapper for the approx-quantile gates
    (q_threshold_summary_approx, q_stream_summary): joins the raw values
    back against the summary and emits the exactly-checkable aggregates
    plus the q*_ok membership/bounds/rank-error booleans the oracle
    asserts TRUE.  `eps` is the sketch's rank-error guarantee
    (1/accuracy; percentile_approx default 1e-4)."""
    j = forecast.join(F.broadcast(summ), "partkey")
    qcols = {"q1": "Q1_dis", "median": "median_dis", "q3": "Q3_dis"}
    aggs = [
        F.count("*").alias("n_members"),
        F.min(F.col("p_above_2y")).alias("p2"),
        F.min(F.col("p_above_5y")).alias("p5"),
        F.min(F.col("p_above_20y")).alias("p20"),
        F.min("dis24").alias("min_dis"),
        F.max("dis24").alias("max_dis"),
    ]
    for pfx, qc in qcols.items():
        aggs += [
            F.sum((F.col("dis24") < F.col(qc)).cast("long")).alias(f"{pfx}_lt"),
            F.sum((F.col("dis24") <= F.col(qc)).cast("long")).alias(f"{pfx}_le"),
            F.max((F.col("dis24") == F.col(qc)).cast("int")).alias(f"{pfx}_member"),
            F.min(F.col(qc)).alias(f"{pfx}_val"),
        ]
    stats = j.groupBy("partkey").agg(*aggs)

    def ok(pfx: str, frac: float):
        n = F.col("n_members").cast("double")
        return ((F.col(f"{pfx}_member") == 1)
                & F.col(f"{pfx}_val").between(F.col("min_dis"),
                                              F.col("max_dis"))
                & (F.col(f"{pfx}_lt") <= frac * n + 1 + eps * n)
                & (F.col(f"{pfx}_le") >= frac * n - 1 - eps * n))

    return stats.select(
        "partkey",
        F.round("p2", 6).alias("p_above_2y"),
        F.round("p5", 6).alias("p_above_5y"),
        F.round("p20", 6).alias("p_above_20y"),
        "min_dis", "max_dis", "n_members",
        ok("q1", 0.25).alias("q1_ok"),
        ok("median", 0.50).alias("median_ok"),
        ok("q3", 0.75).alias("q3_ok"))


def q_tendency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A2 + when-ladder: per-customer tendency of order totals
    vs the account balance as 'control'."""
    detailed = (_t(spark, sf_dir, "orders")
                .join(_t(spark, sf_dir, "customer"),
                      F.col("o_custkey") == F.col("c_custkey"))
                .select(F.col("c_custkey").alias("custkey"),
                        F.col("o_totalprice").alias("median_dis"),
                        F.col("c_acctbal").alias("control_dis"),
                        (F.col("o_totalprice") * 1.05).alias("max_dis"),
                        (F.col("o_totalprice") * 0.95).alias("min_dis")))
    return flood_tendency(detailed, key_cols=("custkey",))


def q_intensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A3 + ladder: per-(user, event_type) exceedance fractions,
    then per-user max and intensity color."""
    per_type = (_t(spark, sf_dir, "events")
                .groupBy("user_id", "event_type")
                .agg(F.round(F.avg((F.col("value") >= 150).cast("int")), 6)
                     .alias("p_above_20y"),
                     F.round(F.avg((F.col("value") >= 100).cast("int")), 6)
                     .alias("p_above_5y"),
                     F.round(F.avg((F.col("value") >= 50).cast("int")), 6)
                     .alias("p_above_2y")))
    return flood_intensity(per_type, key_cols=("user_id",))


def q_peak_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 W1 + §2.4 A4: per-order peak line (argmax by severity
    then price, deterministic step tiebreak) and early-window max, both
    aggregates of one group-by, BB/GC/GB ladder."""
    p2 = F.least(F.lit(1.0), F.col("l_discount") * 12)
    detailed = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("step"),
        p2.alias("p_above_2y"),
        F.greatest(F.lit(0.0), p2 - 0.25).alias("p_above_5y"),
        F.greatest(F.lit(0.0), p2 - 0.5).alias("p_above_20y"),
        F.col("l_extendedprice").alias("median_dis"),
        F.to_date("l_shipdate").alias("valid_for"))
    return flood_peak_timing(
        detailed, key_cols=("orderkey",), carry_cols=(),
        early_window=(1, 3), black_border_window=(1, 2))


def q_wkt_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.8 string family: grid-cell WKT polygon assembly from
    synthetic cell centers derived from part keys."""
    cells = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.round(F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05, 3)
        .alias("latitude"),
        F.round(F.lit(0.025) + (F.floor(F.col("p_partkey") / 200) % 200) * 0.05, 3)
        .alias("longitude"))
    return add_geometry(cells, half_grid_size=0.025, precision=3)


def _grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic cell-center table from part keys (same derivation as
    q_wkt_geometry): lat index = partkey % 200, lon index = partkey // 200."""
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.round(F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05, 3)
        .alias("latitude"),
        F.round(F.lit(0.025) + (F.floor(F.col("p_partkey") / 200) % 200) * 0.05, 3)
        .alias("longitude"),
        F.col("p_retailprice").alias("val"))


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J8: serving point lookup — the cell containing
    (5.03, 0.31) via pushdown range predicates on the cell-center keys
    (reference flood-api-examples.py:199-221 deflated-intersects)."""
    return point_lookup(_grid_cells(spark, sf_dir), 5.03, 0.31)


def q_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J8: 3×3 neighbor fetch around (5.03, 0.31) with the
    primary-cell flag (reference inflated-intersects + mask)."""
    return neighborhood_lookup(_grid_cells(spark, sf_dir), 5.03, 0.31)


def q_batch_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J8 batch form: N serving points resolved in ONE
    grid-index equi-join (operators/serving.batch_point_lookup) instead of
    N pushdown scans — points derived from nation keys, cells from part
    keys, both sides floor-snapped to the 0.05° grid."""
    from flood_data_spark.operators.serving import batch_point_lookup

    points = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") * 0.25 + 0.01).alias("latitude"),
        ((F.col("n_nationkey") % 3) * 0.15 + 0.02).alias("longitude"),
        F.col("n_nationkey").alias("point_id"))
    out = batch_point_lookup(_grid_cells(spark, sf_dir), points)
    return out.select(F.col("query_point_id").alias("point_id"),
                      "query_latitude", "query_longitude",
                      "partkey", "latitude", "longitude", "val")


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle radius search (operators/serving.radius_lookup):
    every nation-derived query point finds all grid cells within 30 km
    — queries explode to their radius bounding box's grid keys (2-D
    bucket explode, the interval_join trick), plain equi-join, exact
    haversine filter after.  The prune is lossless, so the oracle is
    the BRUTE-FORCE cross join with the identical fixed-order haversine
    expression — value equality proves both the pruning and the
    cross-engine float portability of the distance."""
    from flood_data_spark.operators.serving import radius_lookup

    points = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") * 0.25 + 0.01).alias("latitude"),
        ((F.col("n_nationkey") % 3) * 0.15 + 0.02).alias("longitude"),
        F.col("n_nationkey").alias("point_id"))
    out = radius_lookup(_grid_cells(spark, sf_dir), points,
                        radius_km=30.0)
    return out.select(F.col("query_point_id").alias("point_id"),
                      "partkey", "latitude", "longitude",
                      "distance_km")


def q_nearest_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General nearest-neighbor reindex (reference filter_by_upstream.py:21-23
    `method='nearest'` WITHOUT the aligned-grids assumption): serving points
    offset arbitrarily from the 0.05° cell grid each match their truly
    nearest cell via the 3×3-bucket candidate join + deterministic argmin
    (operators/grid.nearest_reindex) — never a cross join.

    Own grid derivation (lat = partkey % 20, lon = partkey DIV 20 % 200),
    NOT _grid_cells: that one degenerates to a single longitude column at
    sf0.001 (part = 200 rows), violating the operator's source-spacing <=
    resolution precondition and desyncing from the brute-force oracle;
    this derivation is 2-D (20 × >= 10 cells) at every SF, and the point
    coordinates sit inside the sf0.001 extent (lat <= 0.853 + lon <=
    0.381 vs grid max 0.975/0.475)."""
    from flood_data_spark.operators.grid import nearest_reindex

    cells = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.round(F.lit(0.025) + (F.col("p_partkey") % 20) * 0.05, 3)
        .alias("latitude"),
        F.round(F.lit(0.025)
                + (F.floor(F.col("p_partkey") / 20) % 200) * 0.05, 3)
        .alias("longitude"),
        F.col("p_retailprice").alias("val"))
    points = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("point_id"),
        (F.col("n_nationkey") * 0.035 + 0.013).alias("latitude"),
        ((F.col("n_nationkey") % 5) * 0.09 + 0.021).alias("longitude"))
    out = nearest_reindex(points, cells, resolution=0.05)
    return out.select(
        "point_id", "latitude", "longitude",
        "latitude_src", "longitude_src",
        F.round("distance_src", 6).alias("distance_src"),
        "partkey_src", "val_src")


def q_morton_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale layout (SURVEY §2.11 / functions.keys.morton_key): Z-order
    (Morton) key over grid-cell centers — bit-interleaved integer grid
    indices, a single-column clustering key under which a sorted layout
    prunes bbox scans on both lat and lon at once.  Pure JVM shift/mask
    Column ops; the DuckDB oracle runs the identical bit arithmetic."""
    return (with_morton_key(_grid_cells(spark, sf_dir), resolution=0.05)
            .select("partkey", "latitude", "longitude", "z_key"))


def q_threshold_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J5: build the per-cell threshold table from 3 synthetic
    per-return-period rasters — raw column names renamed per raster, float
    keys noised then canonicalized by rounding, fold inner-join with
    count-preservation asserts, WKT geometry, sorted layout (reference
    databricks/threshold-data-joining.py:70-110)."""
    def raster(rp_col: str, factor: float) -> DataFrame:
        # float-noisy coordinates (±1e-7, far below the 1e-3 rounding
        # quantum) model raw raster coords; the combine must survive them
        return _t(spark, sf_dir, "part").select(
            (F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05
             + F.lit(1e-7)).alias("latitude"),
            (F.lit(0.025) + (F.floor(F.col("p_partkey") / 200) % 200) * 0.05
             - F.lit(1e-7)).alias("longitude"),
            (F.col("p_retailprice") * factor).alias(rp_col))

    combined = combine_threshold_rasters(
        [raster("2yRP", 0.8), raster("5yRP", 1.0), raster("20yRP", 1.2)],
        rename_maps=[{"2yRP": "threshold_2y"},
                     {"5yRP": "threshold_5y"},
                     {"20yRP": "threshold_20y"}],
        precision=3, half_grid_size=0.025)
    return combined.select("latitude", "longitude", "threshold_2y",
                           "threshold_5y", "threshold_20y", "wkt")


def q_restrict_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.2 P9: named region-of-interest slice with the reference's
    quarter-cell buffer semantics (restrict_dataset_area,
    flood/etl/utils.py:16-19) — edge cell centers survive the buffered box,
    neighboring cells never do."""
    return restrict_area(_grid_cells(spark, sf_dir), 1.0, 2.0, 0.0, 0.5)


def q_summary_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3 E1 steps 5-7 end-to-end: control extraction
    (USE_FIRST_AS_CONTROL), tendency + intensity + peak-timing over one
    shared detail, 3-way 1:1 assembly (J4), gray-cell filter (P7)."""
    p2 = F.least(F.lit(1.0), F.col("l_discount") * 12)
    detailed = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("step"),
        p2.alias("p_above_2y"),
        F.greatest(F.lit(0.0), p2 - 0.25).alias("p_above_5y"),
        F.greatest(F.lit(0.0), p2 - 0.5).alias("p_above_20y"),
        F.col("l_extendedprice").alias("median_dis"),
        (F.col("l_extendedprice") * 1.05).alias("max_dis"),
        (F.col("l_extendedprice") * 0.95).alias("min_dis"),
        F.to_date("l_shipdate").alias("valid_for"))
    control = (detailed.filter(F.col("step") == 1)
               .select("orderkey", F.col("median_dis").alias("control_dis")))
    tendency = flood_tendency(detailed.join(control, "orderkey"),
                              key_cols=("orderkey",))
    intensity = flood_intensity(detailed, key_cols=("orderkey",))
    peak = flood_peak_timing(detailed, key_cols=("orderkey",), carry_cols=(),
                             early_window=(1, 3), black_border_window=(1, 2))
    return assemble_summary(tendency, intensity, peak,
                            key_cols=("orderkey",))


def q_round_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §1.4 float-key discipline: equi-join on doubles canonicalized
    by round() — customer × supplier matched on rounded balances."""
    c = _t(spark, sf_dir, "customer").select(
        F.round("c_acctbal", 0).alias("bal_key"))
    s = _t(spark, sf_dir, "supplier").select(
        F.round("s_acctbal", 0).alias("bal_key"))
    return (c.join(s, "bal_key")
            .groupBy("bal_key")
            .agg(F.count("*").alias("n_pairs")))


def q_upstream_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J7 + §2.2 P10: nearest-grid snap join + catchment-area
    mask.  Events carry synthetic cell coords; suppliers play the upstream
    raster (uparea = acctbal × 1e6, threshold 2.5e8)."""
    forecast = _t(spark, sf_dir, "events").select(
        F.round(F.lit(0.025) + (F.col("user_id") % 50) * 0.05, 3)
        .alias("latitude"),
        F.round(F.lit(0.025) + (F.col("user_id") % 20) * 0.05, 3)
        .alias("longitude"),
        F.col("value"))
    upstream = _t(spark, sf_dir, "supplier").select(
        F.round(F.lit(0.025) + (F.col("s_suppkey") % 50) * 0.05, 3)
        .alias("latitude"),
        F.round(F.lit(0.025) + (F.col("s_suppkey") % 20) * 0.05, 3)
        .alias("longitude"),
        (F.col("s_acctbal") * 1e6).alias("uparea"))
    masked = upstream_mask(forecast, upstream, threshold=2.5e8)
    return (masked.groupBy("latitude", "longitude")
            .agg(F.count("*").alias("n_rows"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


# =====================================================================
# Relational core (scan/filter/agg/join/window/semi/union — §2.2-2.7)
# =====================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 hash aggregation with multiple aggregates (TPC-H Q1 shape)."""
    return (_t(spark, sf_dir, "lineitem")
            .filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 multi-way equi-joins with broadcast dims: orders ⋈ customer ⋈
    nation ⋈ region, revenue by region × market segment."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (orders
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"),
                     F.col("c_mktsegment").alias("mktsegment"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 W1 generic form: top-1 per group with deterministic tiebreak."""
    c = (_t(spark, sf_dir, "customer")
         .join(F.broadcast(_t(spark, sf_dir, "nation")),
               F.col("c_nationkey") == F.col("n_nationkey")))
    w = (Window.partitionBy("n_name")
         .orderBy(F.desc("c_acctbal"), F.asc("c_custkey")))
    return (c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("n_name").alias("nation_name"),
                    F.col("c_custkey").alias("custkey"),
                    F.col("c_acctbal").alias("acctbal")))


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 J6: left-semi restriction — customers with >= 1 open order."""
    return (_t(spark, sf_dir, "customer")
            .join(_t(spark, sf_dir, "orders")
                  .filter(F.col("o_orderstatus") == "O")
                  .select(F.col("o_custkey").alias("c_custkey")),
                  on="c_custkey", how="left_semi")
            .select(F.col("c_custkey").alias("custkey"),
                    F.col("c_acctbal").alias("acctbal")))


# Micro-batch counts of the streams executed by the most recent gate
# call — bench.py clears this before an entry and records the sum next
# to the wall time, so streamed entries carry their fixed
# Structured-Streaming machinery cost explicitly (VERDICT r14 #6: a
# stream entry's seconds are uninterpretable without its batch count).
STREAM_BATCHES: list = []


def _run_file_stream(spark: SparkSession, parquet_path: str,
                     build_stream, name_prefix: str,
                     output_mode: str | None = None) -> DataFrame:
    """Shared availableNow scaffold for the streaming gate queries: expose
    one parquet file as a watched directory (the file-stream source wants
    the daily-folder convention; testdata ships single files), run
    build_stream(file_stream_df) through a memory sink, clean up the
    source symlink + checkpoint (the memory table holds the result;
    without cleanup every gate round leaks two /tmp directories), and
    return the final batch DataFrame.

    r17 (guide §2.2 fewer/larger partitions, applied to state stores):
    the stream runs with its OWN shuffle-partition count — every gate's
    aggregation state is GROUP-BOUNDED by contract (a handful of leads /
    cells / terms), and Structured Streaming instantiates one state-store
    instance per shuffle partition, each paying a per-batch lifecycle
    (store open, delta/snapshot file, commit) regardless of content.  At
    the session default (cores-sized) most stores hold zero groups and
    the machinery dominates the micro-batch: measured on a 32-core box,
    q_kge_stream 3.31 s -> 2.13 s and q_rps_stream 1.77 -> 1.30 s
    (interleaved min-of-4) at 8 state partitions vs 32.  The count is
    state-cardinality-driven, NOT core-count-driven — it stays right on
    a large cluster for these group-bounded states, and big-state
    streams override via SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS.  Values
    are partition-count-invariant (the perturbed oracle sweep already
    runs every value gate at shuffle.partitions 1 and 7).

    The stream runs on a `newSession()` clone (own SQL conf and temp
    views, shared SparkContext) that copies the caller's runtime conf and
    sets only its own partition count, so the caller's session conf is
    never touched — a concurrent query on it keeps its own partitioning.
    The memory-sink table lives in the clone, and the returned DataFrame
    belongs to it."""
    import os
    import shutil
    import tempfile
    import uuid

    from flood_data_spark.streaming.file_stream import run_available_now

    # abspath: the symlink target resolves relative to the /tmp source
    # dir, so a relative sf_dir would dangle
    path = os.path.abspath(parquet_path)
    src_dir = _scratch_dir("stream_src_")
    ckpt_dir = _scratch_dir("ckpt_")
    stream_spark = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            stream_spark.conf.set(k, v)
    stream_spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8"))
    try:
        os.symlink(path, os.path.join(src_dir, os.path.basename(path)))
        # footer-only metadata read
        schema = stream_spark.read.parquet(path).schema
        agg = build_stream(
            stream_spark.readStream.schema(schema).parquet(src_dir))
        name = name_prefix + uuid.uuid4().hex[:8]
        q = run_available_now(agg, ckpt_dir, query_name=name,
                              output_mode=output_mode)
        q.awaitTermination()
        try:
            lp = q.lastProgress
            if lp is not None:
                STREAM_BATCHES.append(int(lp["batchId"]) + 1)
        except Exception:
            pass  # progress introspection must never fail a gate
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return stream_spark.table(name)


def q_stream_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 streaming, driver-gated: the flagship exceedance
    aggregation executed as a Structured Stream — file source over the same
    lineitem parquet, stream × static broadcast threshold join,
    `availableNow` trigger into a memory sink — and returned as the final
    batch DataFrame.  The DuckDB oracle checks full stream/batch parity
    (rows + schema + value hash), not just a row count
    (streaming/file_stream.py: exceedance_summary_stream)."""
    from flood_data_spark.streaming.file_stream import (
        exceedance_summary_stream)

    thresholds = _thresholds(spark, sf_dir)

    def build(stream):
        return exceedance_summary_stream(
            stream.select(F.col("l_partkey").alias("partkey"),
                          F.col("l_extendedprice").alias("dis24")),
            thresholds, join_keys=("partkey",), group_keys=("partkey",))

    return _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build,
        "stream_threshold_").select(
        "partkey",
        F.round("p_above_2y", 6).alias("p_above_2y"),
        F.round("p_above_5y", 6).alias("p_above_5y"),
        F.round("p_above_20y", 6).alias("p_above_20y"),
        "min_dis", "max_dis", "n_members")


def q_stream_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE flagship summary — exceedance fractions AND the
    Q1/median/Q3 block — as a Structured Stream: percentile_approx's
    sketch buffer is mergeable streaming state, so the approx-mode
    detailed forecast streams with no parity gap left vs the batch
    product (streaming/file_stream.full_summary_stream).  Verified with
    the same membership/bounds/rank-error contract as
    q_threshold_summary_approx (_approx_bounds_contract): the sketch's
    quantiles are checked against the raw values batch-side, the exact
    aggregates value-match the oracle."""
    from flood_data_spark.streaming.file_stream import full_summary_stream

    thresholds = _thresholds(spark, sf_dir)
    forecast = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))

    def build(stream):
        return full_summary_stream(
            stream.select(F.col("l_partkey").alias("partkey"),
                          F.col("l_extendedprice").alias("dis24")),
            thresholds, join_keys=("partkey",), group_keys=("partkey",))

    summ = _run_file_stream(spark, f"{sf_dir}/lineitem.parquet", build,
                            "stream_summary_")
    return _approx_bounds_contract(forecast, summ)


def q_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 U1 unionByName: two filtered projections stacked, then agg."""
    ev = _t(spark, sf_dir, "events")
    high = ev.filter(F.col("value") >= 400).select(
        F.lit("high_value").alias("bucket"), F.col("value"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("bucket"), F.col("value"))
    return (high.unionByName(clicks)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 beyond-union set ops: INTERSECT and EXCEPT over customer
    nations vs supplier nations, tagged and unioned into one result."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    only_c = c.subtract(s).withColumn("tag", F.lit("customer_only"))
    return both.unionByName(only_c)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (datapipe/dedup.corpus_diff): 'old' = docs
    0..299 as stored, 'new' = docs 100..399 with every 10th text rewritten
    — all four statuses appear; digest-only full outer join."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 300)
    new = (docs.filter(F.col("doc_id").between(100, 399))
           .withColumn("text",
                       F.when(F.col("doc_id") % 10 == 0,
                              F.concat(F.col("text"), F.lit(" v2")))
                       .otherwise(F.col("text"))))
    return corpus_diff(old, new)


def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (the join type no other entry exercises): per-nation
    big-balance customer counts vs big-balance supplier counts — thresholds
    leave some nations one-sided, so both null-padding directions appear;
    keys coalesced, counts zero-filled."""
    c = (_t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
         .groupBy(F.col("c_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_customers")))
    s = (_t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
         .groupBy(F.col("s_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_suppliers")))
    return (c.join(s, "nk", "full_outer")
            .select(F.col("nk").alias("nationkey"),
                    F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                    F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers")))


def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 P5/P9: pushdown-friendly range predicates (between on date and
    quantity), then agg."""
    return (_t(spark, sf_dir, "lineitem")
            .filter(F.col("l_shipdate").between("1996-01-01", "1997-12-31")
                    & F.col("l_quantity").between(10, 20))
            .groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(F.count("*").alias("n_rows"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join with a pushed-down predicate on the right side:
    customers who never placed a large (>300k) order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_acctbal"))


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation: ROLLUP over (event_type, day) with grouping
    flags so subtotal rows are unambiguous."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return (ev.rollup("event_type", "day")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.grouping("event_type").cast("int").alias("g_type"),
                 F.grouping("day").cast("int").alias("g_day"))
            .select("event_type", "day", "n_events", "sum_value",
                    "g_type", "g_day"))


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping-set combinations
    (the rollup twin that also emits per-day-across-types subtotals)."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return (ev.cube("event_type", "day")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.grouping("event_type").cast("int").alias("g_type"),
                 F.grouping("day").cast("int").alias("g_day"))
            .select("event_type", "day", "n_events", "sum_value",
                    "g_type", "g_day"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot the event-type dimension into columns (explicit value list →
    deterministic schema), one row per user."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (ev.groupBy("user_id")
           .pivot("event_type", types)
           .agg(F.round(F.sum("value"), 2)))
    return out.select("user_id", *[F.col(t).alias(f"sum_{t}") for t in types])


def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time range frame: per user, the mean of values in the
    trailing 1-hour window ending at each event (RANGE BETWEEN interval)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3600 * 1_000_000, 0))
    return (ev.select("event_id", "user_id", "ts", "value")
            .withColumn("rolling_avg", F.round(F.avg("value").over(w), 6))
            .withColumn("rolling_n", F.count("*").over(w)))


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead ordered-window family: per-user previous/next event values
    and step delta (deterministic (ts, event_id) ordering)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("event_id", "user_id", "ts", "value")
            .withColumn("prev_value", F.lag("value").over(w))
            .withColumn("next_value", F.lead("value").over(w))
            .withColumn("delta",
                        F.round(F.col("value") - F.lag("value").over(w), 6)))


def q_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (quantile buckets) over lineitem extended
    prices, per-bucket count/min/max/avg — the equal-POPULATION twin of
    q_histogram's equal-WIDTH buckets (the decile table a data profile or
    a salting plan reads).

    Scale-safe plan (operators/stats.py): ONE percentile-buffer aggregate
    computes all 9 decile boundaries, then a literal comparison ladder
    assigns buckets on a second scan — no global sort, no single-partition
    ntile window (the r7 form; `WindowExec: No Partition Defined` was the
    one scale-killer in that plan).  Tie semantics are value-based (equal
    prices share a bucket), which the oracle mirrors exactly: Spark's
    exact `percentile` and DuckDB's `quantile_cont` interpolate at the
    same rank p·(n-1) and agree bit-for-bit on this data (measured at
    sf0.01 and sf0.1)."""
    from flood_data_spark.operators.stats import equidepth_histogram

    li = _t(spark, sf_dir, "lineitem")
    h = equidepth_histogram(li, "l_extendedprice", n_buckets=10,
                            bucket_col="decile")
    return h.select("decile", "n", "lo", "hi",
                    F.col("avg_value").alias("avg_price"))


def _clf_train(spark: SparkSession, sf_dir: str):
    """Shared trainer for the two classifier gates: hashed-feature
    logistic regression (datapipe/classifier.py), y = (lang = 'en'),
    32 buckets, 3 GD iterations, lr 0.5 — constants mirrored in
    _CLF_ORACLE_CTES (single definition, two gates)."""
    from flood_data_spark.datapipe.classifier import (
        train_quality_classifier)

    # when/otherwise, not a bare cast: (NULL = 'en') casts to NULL, which
    # the trainer rejects; the oracle's CASE maps NULL lang to 0
    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", F.when(F.col("lang") == "en", 1).otherwise(0))
    w, b = train_quality_classifier(docs, label_col="label",
                                    n_features=32, n_iters=3, lr=0.5)
    return docs, w, b


def q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier TRAINING (the fastText/CCNet
    'looks like the target class' scorer): 3 batch-GD iterations where
    each step is one vocabulary-bounded aggregate (32 gradient keys on
    the shuffle, 33 cells to the driver — the k-means k*d contract).
    Returns the trained model itself — (feat, weight) for the 32 hashed
    buckets plus the bias at feat = -1 — which the oracle reproduces by
    unrolling the 3 GD steps in SQL (the q_pagerank discipline)."""
    _, w, b = _clf_train(spark, sf_dir)
    rows = [(-1, float(b))] + [(j, float(w[j])) for j in range(32)]
    return spark.createDataFrame(rows, "feat int, weight double")


def q_quality_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score end to end: the trained weights become a literal
    array and every document scores through ONE row-local expression
    (sigmoid of the mean hashed-bucket weight) — zero shuffles on the
    scoring pass, the 100 TB serving shape.  Scores for doc_id < 100
    with the training label alongside."""
    from flood_data_spark.datapipe.classifier import with_classifier_score

    docs, w, b = _clf_train(spark, sf_dir)
    return (with_classifier_score(docs.filter(F.col("doc_id") < 100), w, b)
            .select("doc_id", "label", "clf_score"))


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (floor bucketing — portable
    across engines, unlike sketch-based histograms)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.floor(F.col("value") / 20).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props handling (functions/semistructured
    .with_json_fields): the JSON string column is parsed ONCE per row with
    a declared schema (from_json struct), then typed fields project out —
    per-event-type stats over the extracted numeric field."""
    from flood_data_spark.functions.semistructured import with_json_fields

    ev = with_json_fields(_t(spark, sf_dir, "events"), "props", {"k": "long"})
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.count("k").alias("n_with_k"),
                 F.round(F.avg("k"), 6).alias("avg_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming-equivalent tumbling window (batch form; the streaming
    wrapper in flood_data_spark.streaming runs the same plan with
    availableNow)."""
    return (_t(spark, sf_dir, "events")
            .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


# =====================================================================
# Training-data-pipeline operators (beyond-reference, BASELINE.json)
# =====================================================================

def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 timeseries: gap-fill resample — each user's daily value
    series densified over their [first, last] active day, gaps forward-
    filled and flagged (operators/timeseries.resample_ffill; sequence +
    explode grid, one ordered window, no driver loops)."""
    daily = (_t(spark, sf_dir, "events")
             .groupBy("user_id",
                      F.datediff(F.to_date(F.date_trunc("day", "ts")),
                                 F.lit("2024-01-01").cast("date"))
                      .alias("day_idx"))
             .agg(F.round(F.sum("value"), 2).alias("day_value")))
    return resample_ffill(daily, "user_id", "day_idx", "day_value")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join (union + ordered-window forward-fill,
    one shuffle): each purchase matched to the user's most recent click."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    out = asof_join(purchases, clicks, on="user_id",
                    right_cols=["click_value"])
    return out.select("event_id", "user_id", "ts", "value",
                      F.col("ts_right").alias("click_ts"),
                      F.col("click_value_right").alias("click_value"))


def q_next_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event training pairs (operators/timeseries.next_event_pairs):
    (current event_type -> next event_type, time-to-next) within 1-hour-gap
    sessions — the supervised examples a behavioral next-action model
    trains on, with session boundaries bit-identical to q_sessionize
    (shared assignment helper).  One key-partitioned exchange carries the
    session windows AND the lead.  Full value oracle."""
    from flood_data_spark.operators.timeseries import next_event_pairs

    return next_event_pairs(_t(spark, sf_dir, "events"),
                            gap_seconds=3600, order_tiebreak="event_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1h gap) over the event stream."""
    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=3600,
                      order_tiebreak="event_id")


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window sessionization (F.session_window — the
    idiomatic Spark operator, also valid under Structured Streaming):
    same event stream as q_sessionize, Spark's boundary semantics (an
    event exactly gap seconds after the previous one opens a NEW session;
    window end = last event + gap)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events"))


def q_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 streaming, driver-gated: sessionization executed as a
    Structured Stream — file source over the same events parquet, native
    `session_window` state machine with a watermark, `availableNow` into a
    memory sink (streaming/file_stream.session_stream).  The oracle is the
    SAME SQL as the batch q_session_window, so the gate proves full
    stream/batch parity (rows + schema + value hash), like
    q_stream_threshold does for the exceedance aggregation."""
    from flood_data_spark.streaming.file_stream import session_stream

    def build(stream):
        # watermarks require TIMESTAMP (LTZ); the parquet ts is NTZ and
        # the session timezone is pinned UTC, so the cast is exact
        return session_stream(
            stream.select("user_id",
                          F.col("ts").cast("timestamp").alias("ts")),
            key_col="user_id", ts_col="ts",
            gap="1 hour", watermark_delay="2 hours")

    return _run_file_stream(
        spark, f"{sf_dir}/events.parquet", build,
        "session_stream_").select("user_id", "session_start",
                                  "session_end", "n_events")


# query pattern for the subsequence-similarity search (a spike shape);
# z-normalized ONCE here so the Spark operator and the DuckDB oracle embed
# bit-identical constants
_TS_PATTERN = [10.0, 20.0, 40.0, 80.0, 40.0, 20.0, 10.0, 5.0]


def _znorm(p):
    m = len(p)
    mu = sum(p) / m
    sd = max((sum((x - mu) ** 2 for x in p) / m) ** 0.5, 1e-12)
    return [(x - mu) / sd for x in p]


def q_ts_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (operators/timeseries
    .pattern_topk): the 10 windows across all user value-series closest to
    the spike pattern by z-normalized euclidean distance — per-key lead()
    windows, fold distance, per-key prune + TakeOrdered global top-k.

    The raw window is array<double>; the driver's canonicalizer (pandas
    factorize) cannot hash list cells, so the contract projection serializes
    it to a fixed-precision CSV string ("%.6f" per element, exactly mirrored
    by printf in the DuckDB oracle)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    top = pattern_topk(ev, _TS_PATTERN, key_col="user_id",
                       order_cols=("ts", "event_id"),
                       value_col="value", k=10)
    # x + 0.0 normalizes IEEE -0.0 to +0.0 before formatting so Spark's
    # "%.6f" and DuckDB's printf render the same sign
    return top.withColumn(
        "window",
        F.concat_ws(",", F.transform(
            F.col("window"),
            lambda x: F.format_string("%.6f", x + F.lit(0.0)))))


def q_alert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9/§2.10 custom stateful streaming, driver-gated: the
    applyInPandasWithState alert tracker (streaming/stateful.py) over a
    lineitem-derived exceedance stream.  In a single availableNow batch
    the tracker's semantics have a closed form — every cell starts at 'G'
    and emits exactly one row iff its batch max crosses an alert boundary
    — so the DuckDB oracle value-hash-checks the custom state machine, the
    strongest evidence a non-SQL operator can carry in this gate."""
    from flood_data_spark.streaming.stateful import track_alert_levels

    def build(stream):
        cells = stream.select(
            F.round((F.col("l_partkey") % 20) * 0.05 + 0.025, 3)
            .alias("latitude"),
            F.round(F.floor(F.col("l_partkey") / 20) % 200 * 0.05
                    + 0.025, 3).alias("longitude"),
            F.least(F.lit(1.0), F.col("l_discount") * 12)
            .alias("p_above_2y"))
        return track_alert_levels(cells)

    out = _run_file_stream(spark, f"{sf_dir}/lineitem.parquet", build,
                           "alert_stream_", output_mode="append")
    return out.select("latitude", "longitude",
                      F.round("max_p_above_2y", 6).alias("max_p_above_2y"),
                      "prev_level", "level")


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 streaming dedup, driver-gated:
    `dropDuplicatesWithinWatermark` over the event file stream
    (streaming/file_stream.dedup_stream — bounded state: a key's memory
    lives only until the watermark passes).  Which ROW survives per key is
    arrival-order dependent, so the gate projects only the key columns —
    the surviving key SET is deterministic and the DuckDB oracle is the
    batch DISTINCT, proving full stream/batch dedup parity."""
    from flood_data_spark.streaming.file_stream import dedup_stream

    def build(stream):
        return dedup_stream(
            stream.select("user_id", "event_type",
                          F.col("ts").cast("timestamp").alias("ts")),
            key_cols=("user_id", "event_type"), ts_col="ts",
            watermark_delay="365 days").select("user_id", "event_type")

    return _run_file_stream(spark, f"{sf_dir}/events.parquet", build,
                            "dedup_stream_", output_mode="append")


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 streaming, driver-gated: global token heavy hitters as
    a Structured Stream (streaming/file_stream.heavy_hitters_stream) —
    complete output mode, no watermark (state is vocabulary-bounded, one
    counter per distinct term), availableNow into a memory sink.  The
    oracle is the batch GROUP BY + HAVING, so the gate proves stream/batch
    parity for the unbounded-key global-aggregation category (the three
    existing streaming gates cover windowed aggregation, keyed dedup, and
    session windows)."""
    from flood_data_spark.streaming.file_stream import heavy_hitters_stream

    def build(stream):
        return heavy_hitters_stream(stream.select("text"), min_count=40)

    return _run_file_stream(spark, f"{sf_dir}/documents.parquet", build,
                            "stream_topk_", output_mode="complete")


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trigram diversity signal (datapipe/text.with_ngram_diversity):
    the zero-shuffle compressibility proxy — n-gram list built row-locally,
    deduplicated with array_distinct, no explode.  Full value oracle."""
    from flood_data_spark.datapipe.text import with_ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    return (with_ngram_diversity(docs, n=3)
            .select("doc_id", "nd_n_ngrams", "nd_n_distinct",
                    "nd_diversity"))


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixture weights
    (datapipe/curation.source_mixture_weights): per-source sampling weight
    proportional to (token share)^0.3 — the XLM-R multinomial rebalancing
    for assembling a multi-source training mix.  One scan, group-bounded
    everything after.  Full value oracle."""
    from flood_data_spark.datapipe.curation import source_mixture_weights

    return source_mixture_weights(_t(spark, sf_dir, "documents"), alpha=0.3)


def q_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank normalization (datapipe/curation.rank_normalize):
    percent_rank of the composite quality score WITHIN each source — the
    per-domain percentile-cutoff primitive (a global score threshold
    prunes domains unevenly; a per-source percentile removes the same
    fraction everywhere).  Full value oracle (percent_rank tie semantics
    are identical in ANSI SQL)."""
    from flood_data_spark.datapipe.curation import rank_normalize

    docs = with_quality_signals(_t(spark, sf_dir, "documents"))
    return (rank_normalize(docs, "q_score", partition_cols=("source",))
            .select("doc_id", "source", "q_score", "pct_rank"))


def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers (datapipe/curation.quality_tiers):
    per-source terciles of the composite quality score
    (higher_is_better, so the top third of each source is 'head') — the
    published CCNet partitioning that decides what trains, what gets
    down-weighted, what drops.  Full value oracle over the shared
    _QSCORE_ORACLE_CTES ranking chain."""
    from flood_data_spark.datapipe.curation import quality_tiers

    docs = with_quality_signals(_t(spark, sf_dir, "documents"))
    return (quality_tiers(docs, "q_score", partition_cols=("source",),
                          higher_is_better=True)
            .select("doc_id", "source", "q_score", "pct_rank", "tier"))


def q_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (datapipe/classifier.platt_calibrate): fit
    p = σ(a·score + b) over (composite quality score, lang='en' label) by
    3 GD iterations, each ONE two-cell aggregate — the post-hoc
    calibration that turns a ranking score into a thresholdable
    probability.  Returns the fitted (a, b); the oracle unrolls the same
    3 steps in SQL over the shared _QSCORE_ORACLE_CTES score chain."""
    from flood_data_spark.datapipe.classifier import platt_calibrate

    docs = with_quality_signals(_t(spark, sf_dir, "documents")) \
        .withColumn("label", F.when(F.col("lang") == "en", 1).otherwise(0))
    a, b = platt_calibrate(docs, "q_score", "label", n_iters=3, lr=1.0)
    return spark.createDataFrame([("a", a), ("b", b)],
                                 "param string, value double")


def _clf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared train-then-score relation for the evaluation gates: the
    q_quality_clf model (3 GD steps, 32 hashed buckets) scoring EVERY
    document — (doc_id, label, clf_score) with the round-6 probability
    the oracle's w3/b3 chain reproduces."""
    from flood_data_spark.datapipe.classifier import with_classifier_score

    docs, w, b = _clf_train(spark, sf_dir)
    return with_classifier_score(docs, w, b)


def q_clf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation suite (datapipe/classifier.evaluate_binary)
    over the trained quality model's corpus-wide scores: tie-averaged
    Mann-Whitney AUC from integer doubled rank-sums, Brier via the
    expanded (s-y)^2 identity, 10-bin ECE with integer bin indexing,
    and accuracy/precision/recall/F1 at 0.5 — ONE corpus-sized aggregate
    (the quantized score-group relation, <= 10^6 + 1 keys), everything
    downstream bounded.  The oracle restates the identical integer
    arithmetic over the shared _CLF_ORACLE_CTES scoring chain."""
    from flood_data_spark.datapipe.classifier import evaluate_binary

    return evaluate_binary(_clf_scored(spark, sf_dir))


def q_clf_eval_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified classifier evaluation (datapipe/classifier
    .evaluate_binary_by): the q_clf_eval metric suite per SOURCE — the
    slice-level QA that catches a scorer failing one domain while
    aggregating well.  Same exactness contract; the rank window
    partitions by source, so this variant has no single-partition
    window at all."""
    from flood_data_spark.datapipe.classifier import evaluate_binary_by

    return evaluate_binary_by(_clf_scored(spark, sf_dir), ["source"])


def q_clf_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve (datapipe/classifier.roc_points): (score, tpr, fpr) per
    distinct quantized score, descending-score cumulative counts over
    the same bounded score-group relation — exact integer ratios, so
    the oracle matches bit-for-bit."""
    from flood_data_spark.datapipe.classifier import roc_points

    return roc_points(_clf_scored(spark, sf_dir))


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (datapipe/text.winnow_fingerprints — the
    SIGMOD'03 MOSS scheme): per-document selected k-gram hashes, k=8
    chars, window w=5, rightmost-min tie rule.  Char-gram explode +
    ONE (id, pos) equi-join against the offset-shifted gram relation —
    no range join, no BNLJ; full value oracle (52-bit md5 arithmetic and
    the blocker closed form are exact in both engines)."""
    from flood_data_spark.datapipe.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return winnow_fingerprints(docs, k=8, w=5)


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step (datapipe/text.winnow_matches): document pairs
    sharing >= 2 distinct fingerprints, boilerplate fingerprints capped
    at doc-freq 20 before the self-join (the O(k²) fan-out guard)."""
    from flood_data_spark.datapipe.text import winnow_matches

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return winnow_matches(docs, k=8, w=5, min_shared=2, max_doc_freq=20)


def q_suppress_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity-style suppression (datapipe/curation
    .suppress_rare_combinations): keep documents whose (lang, source)
    quasi-identifier combination occurs at least 8 times — one
    combo-keyed count + left-semi join back."""
    from flood_data_spark.datapipe.curation import (
        suppress_rare_combinations)

    docs = _t(spark, sf_dir, "documents")
    return (suppress_rare_combinations(docs, ("lang", "source"), k=8)
            .select("doc_id", "lang", "source"))


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style numeric column profile (operators/stats
    .profile_table, exact mode): n/null/distinct/min/max for four
    lineitem measures in ONE aggregation job — the pre-run data-quality
    gate a pipeline asserts invariants against."""
    from flood_data_spark.operators.stats import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"])


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Bloom filter probe (datapipe/dedup.with_bloom_seen):
    the reference corpus's distinct md5-derived bit positions broadcast
    against today's batch — the 100 TB crawl-filter shape (batch never
    shuffles; the bits relation replaces the full digest anti-join).
    Positions are engine-portable md5 arithmetic, so the COMPLETE filter
    decision — false positives included — value-oracles exactly."""
    from flood_data_spark.datapipe.dedup import bloom_bits, with_bloom_seen

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= 250)
    ref = docs.filter(F.col("doc_id") < 250)
    bits = bloom_bits(ref, n_bits=4096, n_hashes=4)
    return (with_bloom_seen(batch, bits, n_bits=4096, n_hashes=4)
            .select("doc_id", "bloom_maybe_seen"))


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated retrieval (datapipe/similarity
    .truncate_embeddings): cosine top-5 over the first 16 of 64
    components, renormalized — the storage/compute dial before
    quantization.  Cosine is scale-invariant, so the oracle scores the
    RAW 16-component slice; the renormalized Spark path agrees to well
    under the 6-decimal round, and both engines rank on the rounded
    value with the id tiebreak (the q_cosine_topk discipline)."""
    from flood_data_spark.datapipe.similarity import truncate_embeddings

    emb = truncate_embeddings(_t(spark, sf_dir, "embeddings"), dim=16)
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(emb, queries, k=5)


def _retrieval_query_set(spark: SparkSession) -> DataFrame:
    """The fixed 3-query eval batch the batch-retrieval gates share."""
    return spark.createDataFrame(
        [("q1", ["join", "hash"]), ("q2", ["data", "scan"]),
         ("q3", ["table", "value"])],
        "query_id string, terms array<string>")


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval (datapipe/text.bm25_batch): every query in the
    eval set scored against the inverted index in ONE job — the exploded
    (query, term) relation broadcasts, the corpus never shuffles for the
    join.  Oracle: one _bm25_chain per query, unioned and ranked (shared
    _BM25_BATCH_RANKED chain with q_hard_negatives)."""
    from flood_data_spark.datapipe.text import bm25_batch, build_text_index

    docs = _t(spark, sf_dir, "documents")
    postings, term_stats, stats = build_text_index(docs)
    return bm25_batch(postings, term_stats, stats,
                      _retrieval_query_set(spark), k=10)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (datapipe/text.mine_hard_negatives —
    the DPR recipe): per query, top-2 retrieved = positives, next 8 =
    hard negatives; one bm25_batch job + a label projection."""
    from flood_data_spark.datapipe.text import (
        build_text_index, mine_hard_negatives)

    docs = _t(spark, sf_dir, "documents")
    postings, term_stats, stats = build_text_index(docs)
    return mine_hard_negatives(postings, term_stats, stats,
                               _retrieval_query_set(spark),
                               k_pos=2, k_neg=8)


def q_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom crawl-filter as a STREAM: the bits relation is static,
    the batch arrives as a file stream, and the probe is k stateless
    stream-static broadcast joins — no aggregation state, no watermark,
    exactly the code path the batch gate runs (with_bloom_seen is
    formulation-identical).  Same full value oracle as q_bloom_dedup."""
    from flood_data_spark.datapipe.dedup import bloom_bits, with_bloom_seen

    docs = _t(spark, sf_dir, "documents")
    bits = bloom_bits(docs.filter(F.col("doc_id") < 250),
                      n_bits=4096, n_hashes=4)

    def build(stream):
        return (with_bloom_seen(stream.filter(F.col("doc_id") >= 250),
                                bits, n_bits=4096, n_hashes=4)
                .select("doc_id", "bloom_maybe_seen"))

    return _run_file_stream(spark, f"{sf_dir}/documents.parquet", build,
                            "bloom_stream_", output_mode="append")


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable mixture plan (datapipe/curation.plan_mixture): the
    temperature weights turned into per-source token targets and capped
    deterministic sampling rates — the step that builds the training mix.
    Oracle shares the _MIXTURE_ORACLE_CTES chain with q_mixture_weights
    (budget constant 200k mirrored in both)."""
    from flood_data_spark.datapipe.curation import plan_mixture

    return plan_mixture(_t(spark, sf_dir, "documents"), token_budget=200000)


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier battery (operators/stats
    .with_robust_outliers): median/MAD + modified z-score + the
    Iglewicz-Hoaglin 3.5 flag over event values — the QA pass that
    doesn't let outliers inflate their own yardstick.  Exact percentile
    == quantile_cont bit-for-bit, so the full battery value-oracles."""
    from flood_data_spark.operators.stats import with_robust_outliers

    ev = _t(spark, sf_dir, "events")
    return (with_robust_outliers(ev, "value", ("user_id",))
            .select("event_id", "user_id", "value",
                    "ro_med", "ro_mad", "ro_z", "ro_outlier"))


def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (operators/stats.trend_stats):
    slope/intercept/r² of extended price vs quantity per part — one
    aggregate pass over the SQL-standard regr_* family, identical
    moment-based definitions in DuckDB."""
    from flood_data_spark.operators.stats import trend_stats

    li = _t(spark, sf_dir, "lineitem")
    return trend_stats(li, "l_extendedprice", "l_quantity",
                       ("l_partkey",))


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence + PMI (datapipe/text.cooccurrence_pmi):
    directed token pairs within 2 positions, corpus counts >= 5, PMI under
    the pair/unigram distributions — the word2vec/GloVe preprocessing
    statistics.  Pair extraction is a row-local slice-zip per offset (no
    positional self-join).  Full value oracle."""
    from flood_data_spark.datapipe.text import cooccurrence_pmi

    return cooccurrence_pmi(_t(spark, sf_dir, "documents"),
                            window=2, min_count=5)


def q_kmeans_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract for the distributed Lloyd's k-means
    (datapipe/clustering.py): fit k=8 over the embeddings corpus (every
    iteration = one posexplode groupBy whose shuffle is k*d keys; the
    corpus never reaches the driver), then assert the invariants the
    oracle re-states — every point assigned to a valid cluster and the
    inertia history non-increasing (Lloyd's guarantee; empty-cluster
    carry-over is the only slack, absent at this k/n).  The centroid
    VALUES are float-iteration artifacts no SQL engine reproduces, so this
    carries the contract form, like the ANN recall gates."""
    from flood_data_spark.datapipe.clustering import kmeans_assign, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    centroids, history = kmeans_fit(emb, k=8, max_iter=4)
    asg = kmeans_assign(emb, centroids)
    stats = asg.agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(F.col("cluster").between(0, 7), 0).otherwise(1))
        .alias("_bad"))
    monotone = all(a >= b - 1e-9 for a, b in zip(history, history[1:]))
    return stats.select(
        "n_points",
        F.lit(8).alias("k_requested"),
        (F.col("_bad") == 0).alias("all_assigned"),
        F.lit(bool(monotone)).alias("inertia_monotone"))


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value oracle for the k-means ASSIGNMENT step (the per-row argmin
    that runs once per Lloyd iteration and once at write time): three
    FIXED axis-aligned centroids, so DuckDB replicates the normalize →
    dot → argmax-with-lower-id-tiebreak arithmetic exactly.  The
    data-derived fit stays contract-gated (q_kmeans_contract) — this pins
    the distributed math itself."""
    from flood_data_spark.datapipe.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    # fail loudly on a dimension change: zip_with against a wrong-length
    # centroid literal null-pads and would silently emit cluster=-1
    d = emb.select(F.size("embedding").alias("d")).first().d
    if d != 64:
        raise ValueError(f"q_kmeans_assign expects 64-dim embeddings "
                         f"(oracle hardcodes components 0/20/40), got {d}")
    cents = []
    for j in range(3):
        row = [0.0] * d
        row[j * 20] = 1.0
        cents.append(row)
    return (kmeans_assign(emb, cents)
            .select("vec_id", F.col("cluster").cast("int").alias("cluster")))


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling
    (datapipe/clustering.cluster_balanced_sample): at most 40 vectors per
    k-means cluster under the same three FIXED axis-aligned centroids as
    q_kmeans_assign, ranked by md5(vec_id) — the SemDeDup-style per-topic
    quota step.  Full value oracle: assignment argmin + md5 window rank
    are both exact ANSI arithmetic."""
    from flood_data_spark.datapipe.clustering import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(F.size("embedding").alias("d")).first().d
    if d != 64:
        raise ValueError(f"q_cluster_sample expects 64-dim embeddings "
                         f"(oracle hardcodes components 0/20/40), got {d}")
    cents = []
    for j in range(3):
        row = [0.0] * d
        row[j * 20] = 1.0
        cents.append(row)
    return (cluster_balanced_sample(emb, cents, per_cluster=40)
            .select("vec_id", F.col("cluster").cast("int").alias("cluster")))


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training's first-round pair statistics (datapipe/bpe.py): the
    top-20 adjacent character pairs weighted by word frequency — the
    argmax of this table IS merge rule #1.  Full value oracle: the pair
    count lives on the vocabulary-sized word-frequency table, the one
    corpus-sized job in the whole trainer."""
    from flood_data_spark.datapipe.bpe import (
        _char_symbols, pair_counts, word_frequencies)

    wf = (word_frequencies(_t(spark, sf_dir, "documents"))
          .select(_char_symbols(F.col("word")).alias("symbols"), "freq"))
    return (pair_counts(wf)
            .withColumnRenamed("left", "left_sym")
            .withColumnRenamed("right", "right_sym")
            .orderBy(F.desc("pair_count"), F.asc("left_sym"),
                     F.asc("right_sym"))
            .limit(20))


def q_bpe_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract for the iterative BPE trainer (datapipe/bpe.py): 6 merge
    rounds over the documents corpus.  The oracle independently recomputes
    merge #1 (the argmax of q_bpe_pairs' SQL) and its count; rounds 2-6
    depend on re-tokenization no SQL engine expresses, so they enter as
    Spark-verified booleans — all merged tokens distinct, and the LAST
    merge product present in the final vocabulary (earlier products can
    legitimately be consumed by later merges, e.g. 'er' vanishing into
    'ter'; the last one cannot)."""
    from flood_data_spark.datapipe.bpe import bpe_train

    merges, vocab = bpe_train(_t(spark, sf_dir, "documents"), n_merges=6)
    tokens = [left + right for left, right, _ in merges]
    vocab_hits = (vocab.filter((F.col("symbol") == tokens[-1])
                               & (F.col("freq") > 0)).count()
                  if tokens else 0)
    merges_distinct = len(set(tokens)) == len(tokens)
    return spark.createDataFrame(
        [(len(merges), merges[0][0] + merges[0][1], merges[0][2],
          bool(merges_distinct), bool(vocab_hits >= 1))],
        "n_merges int, first_merge string, first_count long, "
        "merges_distinct boolean, vocab_ok boolean")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value oracle for the scale-path BPE encoder
    (datapipe/bpe.bpe_encode_with_dict — dictionary tokenized once,
    broadcast-joined back to the per-position word explode, reassembled in
    order): with ZERO merges every word encodes to its character sequence,
    so the token count per document equals the summed word lengths — a
    closed form DuckDB states independently.  Exercises the whole explode
    → broadcast join → ordered reassembly machinery; merge equivalence vs
    the per-row encoder is pinned in tests/test_bpe.py."""
    from flood_data_spark.datapipe.bpe import bpe_encode_with_dict

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200) \
        .select("doc_id", "text")
    return (bpe_encode_with_dict(docs, merges=[], id_col="doc_id")
            .select("doc_id",
                    F.size("bpe_tokens").cast("long").alias("n_tokens")))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier co-order graph (undirected:
    both directions unioned, supplier ids offset into their own space) —
    the host-authority ranking corpus pipelines use as a quality prior
    (datapipe/graph.pagerank).  5 power iterations; the oracle UNROLLS
    all five in SQL, so this iterative operator carries a full value
    hash, not just a contract."""
    from flood_data_spark.datapipe.graph import pagerank

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    li = _t(spark, sf_dir, "lineitem")
    pairs = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("c"),
                     (F.col("l_suppkey") + 1_000_000).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("c").alias("dst"))))
    return (pagerank(edges, iterations=5)
            .select("node", F.round("rank", 6).alias("rank")))


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality scoring
    (datapipe/text.unigram_lm_scores): per-document cross-entropy +
    perplexity under a Lidstone-smoothed unigram model fit on the corpus
    itself.  The LM is a vocabulary-bounded aggregate joined back on the
    term key; totals broadcast as one scalar row.  Full value oracle —
    every step is ANSI arithmetic."""
    from flood_data_spark.datapipe.text import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_lm_scores(docs.filter(F.col("doc_id") < 300),
                             lm_corpus=docs)


def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-interpolated bigram LM scoring
    (datapipe/text.bigram_lm_scores): per-document cross-entropy +
    perplexity over bigram events, lam=0.7 ML-bigram + 0.3
    Lidstone-unigram backoff, LM fit on the full corpus, scoring the
    doc_id < 300 subset.  Bigrams come from a row-local slice-zip of the
    token split (no positional window/self-join); the LM tables are
    distinct-bigram- and vocabulary-bounded aggregates joined on their
    keys.  Full value oracle — every step is ANSI arithmetic."""
    from flood_data_spark.datapipe.text import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs.filter(F.col("doc_id") < 300),
                            lm_corpus=docs)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (datapipe/text.bm25_topk): top-20 documents
    for a fixed query bag under the Lucene non-negative idf, k1=1.2,
    b=0.75.  The corpus-sized explode is filtered to the query term set
    inside the scan stage; doc length is a scalar column expression (no
    second explode); N/avgdl broadcast as one scalar row.  Full value
    oracle."""
    from flood_data_spark.datapipe.text import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["the", "flood", "data", "model", "river"], k=20)


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the inverted-index serving path
    (datapipe/text.build_text_index + bm25_from_index): build the
    postings/term-stats/scalar relations once, answer the SAME query as
    q_bm25_topk from them — the oracle is shared with q_bm25_topk, so the
    gate proves the indexed path reproduces the on-the-fly path
    bit-for-bit (the ivf_build/ivf_probe lifecycle, text side)."""
    from flood_data_spark.datapipe.text import (
        bm25_from_index, build_text_index)

    postings, term_stats, stats = build_text_index(
        _t(spark, sf_dir, "documents"))
    return bm25_from_index(postings, term_stats, stats,
                           ["the", "flood", "data", "model", "river"], k=20)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (datapipe/similarity.rrf_fuse, Cormack et al. 2009): fuse the BM25
    lexical top-20 with the exact-cosine top-20 for query vector 0
    (vec_id aligns with doc_id in the synthetic corpus — document
    embeddings), score = sum 1/(60 + rank).  Fusion is rank-based (no
    score calibration) and runs on top-n-sized relations only.  Full
    value oracle — both input rankings already have exact SQL forms."""
    from flood_data_spark.datapipe.similarity import (
        cosine_topk_bruteforce, rrf_fuse)
    from flood_data_spark.datapipe.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    lex = (bm25_topk(docs, ["the", "flood", "data", "model", "river"],
                     k=20)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.desc("bm25"), F.asc("doc_id")))))
    emb = _t(spark, sf_dir, "embeddings")
    vec = (cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0),
                                  k=20)
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse(lex, vec, k=10)


def q_ir_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (datapipe/similarity.ir_metrics): per-query
    reciprocal rank + recall@10 of the exact-cosine retriever against
    label-match relevance (same `label` = relevant) for 20 query vectors.
    One (query, doc) semi-join + one groupBy — eval-set-sized, never
    corpus-sized.  Full value oracle."""
    from flood_data_spark.datapipe.similarity import (
        cosine_topk_bruteforce, ir_metrics)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    ranked = cosine_topk_bruteforce(emb, queries, k=10)
    relevant = (queries.select(F.col("vec_id").alias("query_id"),
                               F.col("label").alias("_ql"))
                .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                                 F.col("label").alias("_nl")),
                      F.col("_ql") == F.col("_nl"))
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id"))
    return ir_metrics(ranked, relevant, k=10)


def q_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion (datapipe/text.bm25_prf_expand,
    RM3-lite): BM25 top-10 feedback set, 5 expansion terms by feedback-tf
    x smoothed-idf (round-6 deterministic cut), expanded-query BM25
    top-10.  The oracle recomputes BOTH passes and the expansion
    selection entirely in SQL — the expansion set is a subquery, not a
    literal — so the gate proves the two-pass composition end-to-end."""
    from flood_data_spark.datapipe.text import bm25_prf_expand

    return bm25_prf_expand(_t(spark, sf_dir, "documents"),
                           ["the", "flood", "data", "model", "river"],
                           n_feedback=10, n_expansion=5, k=10)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (datapipe/text.with_gopher_rules): the
    published per-document filter rules (word count, mean word length,
    symbol/bullet/ellipsis ratios, alpha-word ratio, stopword presence)
    as one codegen projection — each rule its own boolean column so
    curation audits WHICH rule rejected a document.  Full value oracle
    (pure scalar expressions)."""
    from flood_data_spark.datapipe.text import with_gopher_rules

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return (with_gopher_rules(docs)
            .select("doc_id", "g_n_words", "g_mean_word_len",
                    "g_symbol_ratio", "g_bullet_ratio", "g_ellipsis_ratio",
                    "g_alpha_word_ratio", "g_stop_hits",
                    "r_word_count", "r_mean_word_len", "r_symbol_ratio",
                    "r_bullet_ratio", "r_ellipsis_ratio", "r_alpha_words",
                    "r_stopwords", "gopher_pass"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (datapipe/curation.dsir_weights, Xie et al.
    2023): log p_target(d) - log p_raw(d) over a shared smoothed unigram
    support, target = the German-language slice of the corpus.  Two
    vocabulary-bounded LM aggregates + one full-outer vocabulary join +
    one term-keyed scoring join.  Full value oracle."""
    from flood_data_spark.datapipe.curation import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "de"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step (datapipe/curation.dsir_select): Gumbel-top-50
    resampling without replacement from softmax(log_weight), the
    per-document uniform derived from md5(doc_id)'s first 13 hex digits
    (52 bits — exactly representable in an IEEE double, so the key is
    bit-identical across engines).  Full value oracle including the
    Gumbel arithmetic."""
    from flood_data_spark.datapipe.curation import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(docs, docs.filter(F.col("lang") == "de"), n=50)


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation pipeline end-to-end: quality gate + language
    filter + token-budget range + exact dedup keeping the representative —
    the datapipe operators composing in one plan."""
    docs = _t(spark, sf_dir, "documents")
    enriched = with_bpe_token_count(with_token_count(
        with_lang_id(with_quality_signals(docs))))
    kept = enriched.filter((F.col("q_score") >= 0.6)
                           & (F.col("lang_pred") == "en")
                           & F.col("n_tokens").between(5, 5000))
    reps = exact_dedup(kept)
    return (kept.join(reps.select(F.col("rep_id").alias("doc_id")),
                      "doc_id", "left_semi")
            .select("doc_id", "n_tokens", "n_bpe_tokens", "q_score",
                    "lang_pred"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% corpus sample keyed on md5(doc_id) — reproducible
    across engines/runs/partitionings (train/eval split discipline)."""
    return (hash_sample(_t(spark, sf_dir, "documents"), rate=0.25)
            .select("doc_id", "source", "n_chars"))


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (training-context windows):
    chunk_size=120, overlap=24, one row per chunk, short docs = 1 chunk."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (chunk_documents(docs, chunk_size=120, overlap=24)
            .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    "chunk_text",
                    F.col("chunk_chars").cast("long").alias("chunk_chars")))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing within each source (streaming
    first-fit in doc_id order, budget 256 whitespace tokens)."""
    docs = with_token_count(_t(spark, sf_dir, "documents"))
    return (pack_sequences(docs, token_budget=256,
                           partition_cols=("source",))
            .select("doc_id", "source", "n_tokens", "pack_id"))


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly (datapipe/curation.length_buckets):
    power-of-two token-length tiers (bit-length arithmetic, no float log),
    fixed-size batches numbered per (source, bucket) in doc_id order."""
    docs = with_token_count(_t(spark, sf_dir, "documents"))
    return (length_buckets(docs, batch_size=8)
            .select("doc_id", "source", "n_tokens", "bucket", "batch_id"))


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication stats (datapipe/dedup.repeated_span_stats,
    Lee et al. 2022 token-window form): per document, the 8-token spans
    shared with other documents and the fraction of tokens they cover —
    linear explode + two hash shuffles, never a doc×doc join."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return repeated_span_stats(docs, window=8)


def q_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, removal step (datapipe/dedup.
    remove_repeated_spans): rewrites each document with every token
    covered by a cross-document duplicated 8-token span removed — the
    REMOVE half of Lee et al. 2022 (q_repeated_spans is the FIND half,
    same span relation).  Full value oracle including the rewritten text
    (md5 span keys are engine-portable; reassembly orders by position on
    both sides)."""
    from flood_data_spark.datapipe.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return remove_repeated_spans(docs, window=8)


def q_remove_spans_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first variant of exact substring removal (the Lee et al. 2022
    policy proper): a position is removed only when covered by a
    duplicated-span occurrence that is NOT its span's first by (id, pos)
    order — the first copy of each boilerplate span survives corpus-wide.
    Full value oracle including the rewritten text."""
    from flood_data_spark.datapipe.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return remove_repeated_spans(docs, window=8, keep="first")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split assignment (datapipe/curation.leakage_safe_split):
    near-duplicate documents (jaccard >= 0.5 components) share one group id
    and therefore one split — no train/test twin leakage.  Oracle recomputes
    the components via recursive reachability + the same md5 ladder."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    prs = ngram_jaccard_pairs(docs, threshold=0.5)
    return (leakage_safe_split(docs, prs,
                               {"train": 0.8, "val": 0.1, "test": 0.1})
            .select("doc_id", "group_id", "split"))


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-over-representation: keep at most 10 docs per source
    (deterministic doc_id order)."""
    return (cap_per_key(_t(spark, sf_dir, "documents"), cap=10)
            .select("doc_id", "source"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish pre-tokenizer subword count."""
    return (with_bpe_token_count(with_token_count(_t(spark, sf_dir, "documents")))
            .select("doc_id", "n_tokens", "n_bpe_tokens"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (with_quality_signals(_t(spark, sf_dir, "documents"))
            .select("doc_id", "q_n_chars", "q_n_tokens", "q_alpha_ratio",
                    "q_punct_ratio", "q_stop_ratio", "q_score"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (with_lang_id(_t(spark, sf_dir, "documents"))
            .select("doc_id", "lang_pred"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (with_fingerprint(_t(spark, sf_dir, "documents"))
            .select("doc_id", "fingerprint"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """char-3-gram Jaccard similarity join (low threshold so the synthetic
    corpus yields pairs)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, threshold=0.5)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-mode similarity join: same as q_ngram_jaccard but with the
    shingle document-frequency cap on (max_doc_freq=50) — hot stopword-like
    shingles are dropped before the per-shingle self-join, bounding the
    per-key fan-out at cap² instead of corpus²."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=50)


def q_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pre-flight skew diagnostic (plans/scale.join_fanout_report):
    top-20 lineitem x supplier keys by estimated output fan-out with
    their share of the total and the measured-rule recommendation
    column (round 16) — two key-bounded groupBys + one key-relation
    join, never the joined relation itself.  Deterministic (fanout
    desc, key asc; literal thresholds) so the full report
    value-hashes."""
    from flood_data_spark.plans.scale import join_fanout_report

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"))
    su = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"))
    return join_fanout_report(li, su, "suppkey", top_n=20,
                              shuffle_partitions=32,
                              broadcast_threshold_rows=1_000_000)


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (plans/scale.salted_join): lineitem joins
    part with the large side salted across 16 buckets and the small
    side exploded to match.  The ORACLE IS THE PLAIN JOIN — value
    equality of the per-brand aggregate proves the salting rewrite
    preserves join multiplicity exactly (the test_scale pytest asserts
    the same on a planted-skew frame; this carries it in the driver
    gate on real tables)."""
    from flood_data_spark.plans.scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_quantity")
    pt = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand")
    return (salted_join(li, pt, "partkey")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/scd.scd2_apply): a customer
    dimension snapshot (all rows current since 2020-01-01) receives an
    update batch — custkey % 6 == 0 changes segment (close + new
    version), custkey % 3 == 0 but not % 6 carries identical attrs
    (no-op), and custkey % 10 == 0 arrives key-shifted as an insert.
    One key-equi full-outer join; the oracle reconstructs the four row
    classes set-theoretically."""
    from flood_data_spark.operators.scd import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"))
    upd = (cust.filter(F.col("c_custkey") % 3 == 0)
           .select(F.col("c_custkey").alias("k"),
                   F.col("c_name").alias("name"),
                   F.when(F.col("c_custkey") % 6 == 0, F.lit("MOVED"))
                   .otherwise(F.col("c_mktsegment")).alias("segment"),
                   F.to_date(F.lit("2024-01-01")).alias("effective_ts")))
    ins = (cust.filter(F.col("c_custkey") % 10 == 0)
           .select((F.col("c_custkey") + 1000000).alias("k"),
                   F.col("c_name").alias("name"),
                   F.col("c_mktsegment").alias("segment"),
                   F.to_date(F.lit("2024-01-01")).alias("effective_ts")))
    return scd2_apply(dim, upd.unionByName(ins), ["k"],
                      ["name", "segment"])


def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (operators/timeseries
    .seasonal_decompose): daily event totals per type split into
    trend + weekly seasonal + residual.  Daily sums are rounded to 6
    BEFORE decomposition (group-sum order is the one engine-divergent
    step), the centered MA is an explicit lag/lead addition chain
    (bit-identical across engines), phase means carry one output-side
    round-6."""
    from flood_data_spark.operators.timeseries import seasonal_decompose

    daily = (_t(spark, sf_dir, "events")
             .groupBy(F.col("event_type"),
                      F.to_date(F.date_trunc("day", "ts")).alias("day"))
             .agg(F.round(F.sum("value"), 6).alias("value")))
    return seasonal_decompose(daily, key_col="event_type",
                              order_col="day", value_col="value",
                              period=7)


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (datapipe/dedup
    .jaccard_prefix_pairs, the PPJoin/AllPairs candidate scheme): word-
    token Jaccard >= 0.5, candidates only from each document's
    rarest-token prefix, verified exactly.  The filter is LOSSLESS, so
    the oracle is the brute-force word-token Jaccard SQL — value
    equality here IS the losslessness proof at gate scale."""
    from flood_data_spark.datapipe.dedup import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return jaccard_prefix_pairs(docs, threshold=0.5)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token ratio and
    most-common-token share per document."""
    return repetition_signals(_t(spark, sf_dir, "documents"))


def q_image_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal codec path in the driver gate: per doc_id a deterministic
    8x8 gray image (every pixel = (doc_id*7+13) % 256) round-trips through
    the REAL pure-Python PNG encoder -> nearest-neighbor resize to 4x4 ->
    decoder -> feature extraction inside ONE mapInPandas boundary
    (datapipe/codecs.py).  Because the pixel fill is closed-form, the
    DuckDB oracle reproduces width/height/channels/brightness analytically
    — a full value-hash check of the codec arithmetic, not a rows-only
    smoke."""
    import pandas as pd

    from flood_data_spark.datapipe.codecs import (
        encode_png, png_image_decoder, png_image_resizer)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100) \
        .select("doc_id")

    def run(batches):
        import numpy as np
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                fill = (int(did) * 7 + 13) % 256
                png = encode_png(np.full((8, 8, 1), fill, dtype=np.uint8))
                small = png_image_resizer(png, 4, 4)
                feats = png_image_decoder(small)
                out.append({
                    "doc_id": int(did),
                    "width": feats["width"],
                    "height": feats["height"],
                    "channels": feats["channels"],
                    # constant image: mean*255 reconstructs the integer
                    # fill exactly (float32 error ~1e-5 << 0.5), so the
                    # contract column is integer-exact — no float32-vs-
                    # float64 rounding hazard against the oracle
                    "brightness_level": int(round(
                        feats["embedding"][7] * 255)),
                })
            if out:
                yield pd.DataFrame(out)

    return docs.mapInPandas(
        run, schema="doc_id long, width int, height int, channels int,"
                    " brightness_level int")


def q_grib_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster ingest codec in the driver gate: per doc_id a deterministic
    GRIB2 ensemble message (template 3.0 grid, 4.1 member) is ENCODED and
    then DECODED by the real pure-Python reader (sources/grib2.py) inside
    mapInPandas — the pipeline's actual GRIB entry format, value-hash-
    checked against the closed-form grid/member/value layout.  The
    message layout rotates by doc_id: 5.0 simple packing, 5.2 complex
    packing, 5.3 complex + second-order spatial differencing, 5.40
    lossless JPEG2000 (the from-spec sources/jpeg2000.py codec), 5.42
    CCSDS 121.0-B Rice/AEC (sources/ccsds121.py, round 11), and — round
    12 — product template 4.11 (ensemble STATISTICAL processing, the
    accumulation layout operational dis24 ships: forecast time 0 + a
    24 h accumulation range, step = interval end − reference) — the
    decoded rows are identical whichever layout carried them, so ONE
    closed-form oracle covers all six.  Packed integers < 2^16 survive
    float32 dis24 exactly, so the contract casts back to int with zero
    rounding hazard."""
    import pandas as pd

    from flood_data_spark.sources.grib2 import (
        build_ccsds_message, build_complex_message, build_jpeg2000_message,
        build_simple_message, grib2_to_dataframe)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50) \
        .select("doc_id")

    def run(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                xs = [(did * 7 + k) % 65536 for k in range(6)]
                kind = did % 6
                if kind == 0:
                    msg = build_simple_message(
                        xs, nj=2, ni=3, la1=0.125, lo1=0.025, d=0.05,
                        nbits=16, member=did % 4)
                elif kind == 5:
                    # product template 4.11: accumulated ensemble —
                    # ftime 0 + 24 h range decodes to the SAME step
                    msg = build_simple_message(
                        xs, nj=2, ni=3, la1=0.125, lo1=0.025, d=0.05,
                        nbits=16, member=did % 4, ftime_hours=0,
                        accum_hours=24)
                elif kind == 3:
                    msg = build_jpeg2000_message(
                        xs, nj=2, ni=3, la1=0.125, lo1=0.025, d=0.05,
                        nbits=16, levels=1, member=did % 4)
                elif kind == 4:
                    msg = build_ccsds_message(
                        xs, nj=2, ni=3, la1=0.125, lo1=0.025, d=0.05,
                        nbits=16, block_size=8, rsi=2, member=did % 4)
                else:
                    msg = build_complex_message(
                        xs, nj=2, ni=3, la1=0.125, lo1=0.025, d=0.05,
                        member=did % 4, group_len=4,
                        order=0 if kind == 1 else 2)
                rows = grib2_to_dataframe(msg)
                rows.insert(0, "doc_id", did)
                out.append(rows)
            if out:
                yield pd.concat(out, ignore_index=True)

    decoded = docs.mapInPandas(
        run, schema="doc_id long, number long, latitude double,"
                    " longitude double, time long, step long,"
                    " valid_time long, dis24 float")
    return decoded.select(
        "doc_id", "number",
        F.round("latitude", 3).alias("latitude"),
        F.round("longitude", 3).alias("longitude"),
        "time", "step", "valid_time",
        F.col("dis24").cast("int").alias("packed_value"))


def q_grib_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral GRIB2 in the driver gate (closes the r11 'spectral
    residual'): per doc_id a deterministic spherical-harmonic
    coefficient set (T3 triangular truncation, 20 values) is ENCODED
    and DECODED by the pure-Python reader — data representation rotates
    5.50 (spectral simple packing: the (0,0) real part rides unpacked
    in DRS octets 21-24) and 5.51 (spectral complex packing: raw
    IEEE-32 sub-spectrum + Laplacian-flattened packed remainder, p=1).
    Integer coefficients < 512 with D=E=0 survive BOTH templates
    exactly (5.51's one IEEE division v·n(n+1)/(n(n+1)) is exact on
    integer products), so ONE closed-form oracle covers both codecs."""
    import pandas as pd

    from flood_data_spark.sources.grib2 import (
        build_spectral_complex_message, build_spectral_message,
        spectral_to_dataframe)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40) \
        .select("doc_id")

    def run(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                coeffs = [float((did * 11 + 3 * k) % 512)
                          for k in range(20)]
                if did % 2 == 0:
                    msg = build_spectral_message(
                        coeffs, j=3, nbits=16, member=did % 4)
                else:
                    msg = build_spectral_complex_message(
                        coeffs, j=3, js=1, p=1.0, nbits=16,
                        member=did % 4)
                rows = spectral_to_dataframe(msg)
                rows.insert(0, "doc_id", did)
                out.append(rows)
            if out:
                yield pd.concat(out, ignore_index=True)

    decoded = docs.mapInPandas(
        run, schema="doc_id long, number long, m long, n long,"
                    " time long, step long, valid_time long,"
                    " c_real double, c_imag double")
    return decoded.select(
        "doc_id", "number", "m", "n", "time", "step", "valid_time",
        F.col("c_real").alias("coef_real"),
        F.col("c_imag").alias("coef_imag"))


def _ahash_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the perceptual-hash gates: per doc_id < 100 a
    deterministic 8x8 single-channel PNG — pixel(i,j) = (base·11 +
    i·16 + j·5) % 256 with base = doc_id % 20, plus a +3 perturbation
    of pixel(0,0) for doc_id >= 60 — ENCODED by the real PNG encoder so
    the hash pass exercises the actual codec."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100) \
        .select("doc_id")

    def run(batches):
        import numpy as np

        from flood_data_spark.datapipe.codecs import encode_png
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                base = did % 20
                img = np.fromfunction(
                    lambda i, j: (base * 11 + i * 16 + j * 5) % 256,
                    (8, 8)).astype(np.uint8)
                if did >= 60:
                    img[0, 0] = (int(img[0, 0]) + 3) % 256
                out.append({"media_id": did,
                            "content": encode_png(img[:, :, None])})
            if out:
                yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema="media_id long, content binary")


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over the real PNG codec
    (datapipe/codecs.image_ahash via multimodal.ahash_media): decode →
    grayscale → 8x8 grid → strict-greater-than-mean bits packed
    MSB-first into two non-negative 32-bit halves.  The pixel fill is
    closed-form, the grid mean is an exact /64, so the DuckDB oracle
    recomputes every bit analytically — a full value-hash of the hash
    itself."""
    from flood_data_spark.datapipe.multimodal import ahash_media

    h = ahash_media(_ahash_media_df(spark, sf_dir))
    return h.select(
        F.col("media_id").alias("doc_id"), "ahash_hi", "ahash_lo",
        (F.bit_count("ahash_hi") + F.bit_count("ahash_lo"))
        .cast("int").alias("n_set"))


def q_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance
    (datapipe/multimodal.ahash_dup_pairs): 4x16-bit band pigeonhole
    (lossless for max_hamming <= 3) generates Σ|bucket|² candidates,
    one exact bit_count(XOR) verify.  The oracle computes the SAME
    hashes analytically and brute-forces ALL pairs — every gate run
    checks the banding's losslessness against the definition, the
    q_crps differential pattern."""
    from flood_data_spark.datapipe.multimodal import (ahash_dup_pairs,
                                                      ahash_media)

    h = ahash_media(_ahash_media_df(spark, sf_dir))
    return ahash_dup_pairs(h, max_hamming=3) \
        .select("id_a", "id_b", "hamming")


def q_audio_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV codec path in the driver gate: per doc_id a deterministic
    16-bit PCM WAV (n = 100 + (doc_id%50)*7 frames at 8 kHz, constant
    amplitude) is assembled as raw RIFF bytes and decoded by the real
    pure-Python reader (datapipe/codecs.decode_wav) inside mapInPandas.
    Header-true fields (rate, frames, duration) have closed forms the
    DuckDB oracle reproduces — value-hash evidence for the parser; the
    float-noisy spectral vector stays out of the contract."""
    import pandas as pd

    from flood_data_spark.datapipe.codecs import wav_audio_decoder

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100) \
        .select("doc_id")

    def run(batches):
        import struct as _s
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                n = 100 + (int(did) % 50) * 7
                data = _s.pack("<h", 1000) * n
                wav = (b"RIFF" + _s.pack("<I", 36 + len(data)) + b"WAVE"
                       + b"fmt " + _s.pack("<IHHIIHH", 16, 1, 1, 8000,
                                           16000, 2, 16)
                       + b"data" + _s.pack("<I", len(data)) + data)
                feats = wav_audio_decoder(wav)
                out.append({"doc_id": int(did),
                            "sample_rate": feats["sample_rate"],
                            "n_samples": feats["n_samples"],
                            "duration_s": feats["duration_s"]})
            if out:
                yield pd.DataFrame(out)

    return docs.mapInPandas(
        run, schema="doc_id long, sample_rate int, n_samples long,"
                    " duration_s double")


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email + phone-shaped spans replaced with [REDACTED].
    The synthetic corpus is PII-free, so two literal rows with planted PII
    ride along (mirrored as VALUES in the oracle) to make the redaction
    observable end-to-end."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50) \
        .select("doc_id", "text")
    planted = spark.createDataFrame(
        [(9001, "contact jane.doe@example.com or +1 555-123-4567 today"),
         (9002, "no personal identifiers in this row at all")],
        "doc_id long, text string")
    return (redact_pii(docs.unionByName(planted))
            .select("doc_id", "clean_text", "n_redactions"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: for each 'training' doc (id < 100), the
    fraction of its char-8-grams appearing anywhere in the 'evaluation'
    corpus (id 100-199).  Linear in gram volume — no doc×doc pairs."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") < 100)
    evalset = docs.filter(F.col("doc_id").between(100, 199))
    return ngram_containment(train, evalset, n=8)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (corpus-statistics family: vocabulary, doc frequency, idf)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return tfidf_topk(docs, k=3)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(emb, queries, k=5)


def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11: symmetric per-vector int8 quantization of the embedding
    column — deterministic codes + scale, fully value-checked against the
    DuckDB replica of the same arithmetic (datapipe/quantize.py).

    qvec is array<tinyint>; the driver's canonicalizer cannot hash list
    cells, so the contract serializes the codes to an exact CSV string
    (integer rendering is identical in Spark and DuckDB)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return (quantize_embeddings(emb)
            .select("vec_id", F.round(F.col("qscale"), 9).alias("qscale"),
                    F.concat_ws(",", F.col("qvec").cast("array<string>"))
                     .alias("qvec")))


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11: brute-force cosine top-k over the int8-quantized corpus
    (the compressed scan/broadcast path) — quantization is deterministic, so
    the oracle reproduces the exact ranking, not just a recall bound."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_quantized(emb, queries, k=5)


def q_hll_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 sketches: one-pass HLL++ cardinality with a 4σ bounds
    contract — exact distincts are oracle-checked, the booleans assert the
    sketch landed inside tolerance (datapipe/sketches.py)."""
    return hll_contract(_t(spark, sf_dir, "documents"),
                        ["doc_id", "lang", "source"])


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 sketches: long-format corpus summary — ONE scan, one
    single-row agg, `stack`-unpivoted to (metric, value) rows
    (datapipe/sketches.corpus_report)."""
    return corpus_report(_t(spark, sf_dir, "documents"))


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 text: frequency-ranked vocabulary with deterministic
    contiguous ids — the corpus→tokenizer id-assignment step; ranking window
    input is vocabulary-bounded, never corpus-bounded
    (datapipe/text.build_vocab)."""
    return build_vocab(_t(spark, sf_dir, "documents"),
                       max_vocab=200, min_count=5)


def q_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 sketches family: vocabulary-bounded heavy hitters —
    tokens covering ≥1% of all token positions; the shuffle carries one row
    per distinct token (map-side partial agg), not per occurrence."""
    return token_heavy_hitters(_t(spark, sf_dir, "documents"),
                               min_fraction=0.01)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs — not SQL-expressible (xxhash64 sketch);
    driver records rows-only check."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8)


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — rows-only check (xxhash64 sketch).
    chunks=16 > max_hamming=8 satisfies the pigeonhole precondition
    (a pair may differ in every 4-bit chunk otherwise and be missed)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_dup_pairs(docs, max_hamming=8, chunks=16)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant of cosine top-k — rows-only check (approximate recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    # dim passed explicitly: skips the inference action (one ~0.5 s job)
    return lsh_bucketed_topk(emb, queries, k=5, dim=64)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer + inverted-list probe) — rows-only
    check (approximate recall, model-fitted)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries, k=5, nlist=8, nprobe=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over n-gram Jaccard near-dup pairs (iterative
    min-label propagation + pointer jumping) — the keep/drop decision step.
    Oracle: DuckDB recursive CTE computing the min-reachable-label fixpoint
    over the same (hash-matched) pair relation."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup_clusters(ngram_jaccard_pairs(docs, threshold=0.5))


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline); the
    synthetic embeddings are near-orthogonal so the threshold sits at the
    far tail of the cosine distribution (~99.9th pct)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.35)


def q_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of embedding near-dup: LSH-bucketed candidate
    generation — no all-pairs join anywhere in the plan; candidate volume
    scales with bucket collisions, not n².  Recall < 1 by construction
    (rows-only check); q_embedding_dedup is its exact oracle twin."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.35, exact=False,
                                    num_planes=8, num_tables=4, dim=64)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (datapipe/similarity.semantic_dedup):
    k-means clusters, within-cluster cosine pairs only, lowest id survives.
    Rows-only (the k-means fit is not SQL-expressible);
    q_semantic_dedup_contract is its oracle-checked twin."""
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.35, nlist=16).select("vec_id")


def q_semantic_dedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract for q_semantic_dedup against the exact all-pairs truth:
    (a) kept + dropped partition the corpus, (b) every dropped vector
    really has a lower-id near-duplicate globally (within-cluster pairs
    are a subset of global pairs), (c) the near-orthogonal synthetic
    corpus keeps a clear majority.  n_total is recomputed by the oracle;
    the booleans are asserted TRUE."""
    emb = _t(spark, sf_dir, "embeddings").cache()
    kept = (semantic_dedup(emb, threshold=0.35, nlist=16)
            .select("vec_id").cache())
    dropped = emb.select("vec_id").join(kept, "vec_id", "left_anti").cache()
    exact_greater = (embedding_near_dup_pairs(emb, threshold=0.35, exact=True)
                     .select(F.col("id_b").alias("vec_id")).distinct())
    n_kept = kept.count()
    n_dropped = dropped.count()
    n_outside = dropped.join(exact_greater, "vec_id", "left_anti").count()
    return (emb.agg(F.count("*").alias("n_total"))
            .select(
        "n_total",
        (F.lit(n_kept + n_dropped) == F.col("n_total")).alias("partition_ok"),
        F.lit(n_outside == 0).alias("containment_ok"),
        (F.lit(n_kept) * 2 >= F.col("n_total")).alias("kept_majority_ok")))


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment from the md5-prefix ranges
    — stable under corpus growth, unlike randomSplit.  Hash-checked
    per-document (every single assignment must match the oracle's)."""
    docs = _t(spark, sf_dir, "documents")
    return (assign_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
            .select("doc_id", "split"))


def q_split_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.11 assembly: the dataset-card accounting step — per split:
    document count, whitespace-token and BPE-ish token budgets, char
    volume.  One groupBy over the deterministic split assignment."""
    docs = _t(spark, sf_dir, "documents")
    split = assign_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return (split
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_count(F.col("text"))).alias("ws_tokens"),
                 F.sum(bpe_token_count(F.col("text"))).alias("bpe_tokens"),
                 F.sum(F.length("text")).alias("n_chars")))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates (corpus mixing: keep all of src0, none
    of src1, 40% of everything else) via the engine-portable md5 cut."""
    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, {"src0": 1.0, "src1": 0.0},
                            default_rate=0.4)
    return out.select("doc_id", "source")


def q_shuffle_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle key (seeded md5): the
    scalable global-shuffle recipe is repartitionByRange + local sort on
    this key; the key values themselves are hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    return (with_shuffle_key(docs, seed="42")
            .select("doc_id", "shuffle_key"))


def _multiline_docs(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line reshaping of the single-line synthetic
    corpus (the line-level operators need real line structure): words are
    regrouped into 4-word lines and every 3rd line (i % 3 == 0) gets a
    terminal '.' — mirrored verbatim in the oracle SQL, so exact-duplicate
    documents still share every line and the filters see both passing and
    failing lines."""
    words = F.split(F.col("text"), " ")
    ngroups = F.ceil(F.size(words) / 4)
    lines = F.transform(
        F.sequence(F.lit(0), (ngroups - 1).cast("int")),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 4 + 1, 4), " "),
            F.when(i % 3 == 0, F.lit(".")).otherwise(F.lit(""))))
    return docs.withColumn("mtext", F.array_join(lines, "\n"))


def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filter (>= 4 words AND terminal punctuation) as a
    pure array expression — zero shuffle, the cheap first cleaning pass
    of a training-data pipeline."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = clean_lines(_multiline_docs(docs), text_col="mtext", min_words=4)
    return out.select("doc_id", "n_lines", "n_lines_kept", "clean_text")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup, first occurrence wins, with the
    doc-frequency boilerplate cap (lines in > 50 documents removed
    everywhere) — the C4 move that also bounds window-partition skew at
    100 TB."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ml = _multiline_docs(docs).select("doc_id", "mtext")
    return dedup_lines(ml, text_col="mtext", max_doc_freq=50)


def q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup, the daily-ingest shape: today's batch
    (doc_id >= 250) against the published corpus (doc_id < 250) — only
    reference DIGESTS move, then a min-id representative per in-batch
    duplicate group."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= 250)
    ref = docs.filter(F.col("doc_id") < 250)
    return (dedup_against(batch, ref)
            .select("doc_id", "source", "n_chars"))


def q_jaccard_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-relation n-gram Jaccard join (batch-vs-corpus near-dedup)
    with the per-side document-frequency cap — candidate generation is a
    per-shingle equi-join, never a cross product."""
    docs = _t(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") < 100)
    right = docs.filter(F.col("doc_id").between(100, 199))
    return ngram_jaccard_join(left, right, threshold=0.25, max_doc_freq=50)


def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full line-level assembly line composed in ONE Spark plan — no
    inter-stage materialization: shuffle-free line filter (clean_lines) →
    cross-document line dedup with the boilerplate cap (dedup_lines) →
    token gate on the surviving text → hash-stable split assignment →
    per-source sequence packing of the train split."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ml = _multiline_docs(docs).select("doc_id", "mtext")
    cleaned = clean_lines(ml, text_col="mtext", min_words=4)
    dd = dedup_lines(cleaned, text_col="clean_text", max_doc_freq=50)
    final = dd.join(docs.select("doc_id", "source"), "doc_id")
    toks = with_token_count(final, text_col="clean_text")
    train = (assign_split(toks.filter(F.col("n_tokens") >= 8),
                          {"train": 0.8, "val": 0.1, "test": 0.1})
             .filter(F.col("split") == "train"))
    packed = pack_sequences(train, token_budget=64, token_col="n_tokens",
                            partition_cols=("source",), order_col="doc_id")
    return packed.select("doc_id", "source", "n_tokens", "n_lines_kept",
                         "pack_id")


# ---------------------------------------------------------------------
# Sketch/ANN contract queries: each rows-only operator paired with its
# exact, oracle-checkable ground truth.  The single output row carries
# (a) exact-side aggregates DuckDB recomputes for real (hash-checked) and
# (b) recall/precision/completeness booleans Spark derives from the real
# sketch output; the oracle asserts them TRUE — the same pattern the
# approx-quantile bounds contract uses.  Bounds sit well under measured
# values at sf0.01 AND sf0.1 (minhash .997/.998, lsh-topk .77/.68,
# ivf .50/.62, emb-lsh .118/.091) so SF drift / k-means jitter can't flip
# them without a genuine regression.
# ---------------------------------------------------------------------

def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for MinHash+LSH banding against the exact n-gram
    Jaccard truth (itself hash-checked via q_ngram_jaccard).  bands=16
    (r=2) puts the S-curve midpoint at J=(1/16)^(1/2)=0.25, so pairs at
    the J>=0.5 truth threshold are caught w.p. 1-(1-J^2)^16 >= 0.99 —
    measured recall 0.997 (sf0.01) / 0.998 (sf0.1), asserted >= 0.9.
    Pairs at J>=0.9 must ALL be caught (capture prob ~1-2e-23)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    truth = ngram_jaccard_pairs(docs, threshold=0.5).cache()
    cand = minhash_lsh_pairs(docs, num_hashes=32, bands=16)
    hit = truth.join(cand.select("id_a", "id_b"), ["id_a", "id_b"],
                     "left_semi")
    stats = truth.agg(
        F.count("*").alias("n_true_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        F.sum((F.col("jaccard") >= 0.9).cast("long")).alias("n_high"))
    hits = hit.agg(
        F.count("*").alias("n_hit"),
        F.sum((F.col("jaccard") >= 0.9).cast("long")).alias("n_high_hit"))
    return (stats.crossJoin(hits).select(
        "n_true_pairs", "avg_jaccard",
        (F.col("n_hit") >= 0.9 * F.col("n_true_pairs")).alias("recall_ok"),
        (F.col("n_high_hit") == F.col("n_high")).alias("high_pairs_ok")))


# test-harness bound for the quadratic truth side of the simhash contract
_SIMHASH_CONTRACT_MAX_ROWS = 20_000


def q_simhash_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness contract for the SimHash pigeonhole join: with
    chunks=16 > max_hamming=8, candidate generation provably misses
    nothing, so the chunked equi-join output must EQUAL the brute-force
    all-pairs Hamming join over the same signatures — checked as mutual
    set containment on (id_a, id_b, hamming), not just counts."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sigs = (simhash(docs).filter(F.col("has_tokens"))
            .drop("has_tokens").cache())
    # The brute-force ground-truth side is O(n²) BY DESIGN (it exists to
    # prove the pigeonhole join complete) — hard-cap it so the contract can
    # never be pointed at a corpus-scale input by accident.
    n_sigs = sigs.count()
    if n_sigs > _SIMHASH_CONTRACT_MAX_ROWS:
        raise ValueError(
            f"simhash completeness contract is quadratic in its input: "
            f"{n_sigs} signatures exceeds the "
            f"{_SIMHASH_CONTRACT_MAX_ROWS}-row harness cap; run it on a "
            f"sample, the scale path is simhash_dup_pairs alone")
    a = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("hamming",
                         F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
             .filter(F.col("hamming") <= 8)
             .select("id_a", "id_b", "hamming").cache())
    pig = simhash_dup_pairs(docs, max_hamming=8, chunks=16).cache()
    n_brute = brute.count()
    n_pig_in_brute = pig.join(brute, ["id_a", "id_b", "hamming"],
                              "left_semi").count()
    pair_stats = pig.agg(
        F.count("*").alias("n_pig"),
        F.coalesce(F.max((F.col("hamming") > 8).cast("int")), F.lit(0))
        .alias("bad_hamming"),
        F.coalesce(F.max((F.col("id_a") >= F.col("id_b")).cast("int")),
                   F.lit(0)).alias("bad_order"))
    return (docs.agg(F.count("*").alias("n_docs")).crossJoin(pair_stats)
            .select(
        "n_docs",
        ((F.col("n_pig") == F.lit(n_brute))
         & (F.lit(n_pig_in_brute) == F.col("n_pig"))).alias("complete_ok"),
        (F.col("bad_hamming") == 0).alias("hamming_ok"),
        (F.col("bad_order") == 0).alias("canonical_ok")))


def _topk_recall_contract(exact: DataFrame, ann: DataFrame,
                          bound: float, tolerance: float = 0.0) -> DataFrame:
    """Shared shape for ANN-vs-exact top-k contracts: exact-side stats the
    oracle recomputes + recall/bounded booleans from the real ANN rows.
    `tolerance` loosens the better-than-exact-top1 bound for variants whose
    reported cosine is itself approximate (int8-dequantized scoring)."""
    ex = exact.cache()
    stats = ex.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
        F.round(F.avg(F.when(F.col("rank") == 1, F.col("cosine"))), 6)
        .alias("avg_top1_cosine"))
    n_exact_hit = ex.join(ann.select("query_id", "neighbor_id"),
                          ["query_id", "neighbor_id"], "left_semi").count()
    # ANN may never report a better neighbor than the exact top-1
    top1 = ex.filter(F.col("rank") == 1).select(
        "query_id", F.col("cosine").alias("best_cosine"))
    viol = (ann.join(top1, "query_id")
            .filter(F.col("cosine") > F.col("best_cosine") + tolerance)
            .count())
    return stats.select(
        "n_queries", "n_exact", "avg_top1_cosine",
        (F.lit(n_exact_hit) >= bound * F.col("n_exact")).alias("recall_ok"),
        F.lit(viol == 0).alias("bounded_ok"))


def q_lsh_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for hyperplane-LSH ANN vs exact cosine top-k (the
    truth side is q_cosine_topk, hash-checked).  The synthetic embeddings
    are near-orthogonal — deliberately adversarial for angle-LSH — so the
    contract uses 4 planes x 8 tables (collision prob ~0.53 at the top-5
    cosine range): measured recall 0.77 (sf0.01) / 0.68 (sf0.1),
    asserted >= 0.4."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    ann = lsh_bucketed_topk(emb, queries, k=5, num_planes=4, num_tables=8, dim=64)
    return _topk_recall_contract(exact, ann, bound=0.4)


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for IVF ANN (sample-fit k-means quantizer, nprobe=2
    of nlist=8) vs exact cosine top-k: measured recall 0.52 (sf0.01) /
    0.53 (sf0.1) with the random-init quantizer (0.50/0.62 with
    k-means||), asserted >= 0.25 — margin covers k-means init jitter
    across environments."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    ann = ivf_topk(emb, queries, k=5, nlist=8, nprobe=2)
    return _topk_recall_contract(exact, ann, bound=0.25)


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for product quantization (m=8 sub-codebooks, 8 bits
    each → 8-byte codes, 32× smaller than float32): ADC candidate
    generation over the compressed corpus + exact re-rank of 4k
    candidates (the standard PQ search), vs exact cosine.  Re-ranked
    cosines are true cosines, so bounded_ok is exact (tolerance 0);
    recall bound 0.25 matches the other ANN contracts."""
    from flood_data_spark.datapipe.similarity import (
        pq_encode, pq_topk, pq_train)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    books = pq_train(emb, m=8, nbits=8)
    codes = pq_encode(emb, books)
    ann = pq_topk(books, codes, queries, k=5, rerank_corpus=emb)
    return _topk_recall_contract(exact, ann, bound=0.25)


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the full FAISS composition — IVF-PQ (coarse
    quantizer prunes the scan to nprobe inverted lists, product
    quantization of the RESIDUALS bounds the bytes: m=8 codes + a list id
    per row).  ADC candidate generation over the probed lists + exact
    re-rank, vs exact cosine; re-ranked cosines are true cosines so
    bounded_ok carries zero tolerance, bound 0.25 like the other ANN
    contracts (measured ~0.6 at nprobe=3/nlist=8)."""
    from flood_data_spark.datapipe.similarity import ivfpq_build, ivfpq_probe

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    cent, books, codes = ivfpq_build(emb, nlist=8, m=8, nbits=8)
    ann = ivfpq_probe(cent, books, codes, queries, k=5, nprobe=3,
                      rerank_corpus=emb)
    return _topk_recall_contract(exact, ann, bound=0.25)


def q_ivf_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the int8-quantized IVF index (IVF-SQ8:
    `quantize_index(lists)`, 8× smaller persisted index): same
    nlist=8/nprobe=2 shape and the same >= 0.25 bound as the full-precision
    q_ivf_recall — scalar-quantization noise must not eat the coarse-
    quantizer recall.  bounded_ok carries a 0.02 tolerance because the
    reported cosine is computed on dequantized codes."""
    from flood_data_spark.datapipe.similarity import ivf_build, ivf_probe, \
        quantize_index

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    centroids, lists = ivf_build(emb, nlist=8)
    ann = ivf_probe(centroids, quantize_index(lists), queries,
                    k=5, nprobe=2)
    return _topk_recall_contract(exact, ann, bound=0.25, tolerance=0.02)


def q_embedding_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall contract for the LSH near-dup scale path vs the
    exact all-pairs truth (q_embedding_dedup, hash-checked).  Precision is
    EXACTLY 1 by construction — candidates are re-scored with the exact
    cosine before thresholding, so every emitted pair must appear in the
    exact set (subset_ok).  Recall on this near-orthogonal corpus (the
    0.35 threshold sits at the far cosine tail) measured 0.118 (sf0.01) /
    0.091 (sf0.1), asserted >= 0.02."""
    emb = _t(spark, sf_dir, "embeddings")
    ex_pairs = embedding_near_dup_pairs(emb, threshold=0.35).cache()
    lsh_pairs = embedding_near_dup_pairs(emb, threshold=0.35, exact=False, dim=64,
                                         num_planes=8, num_tables=4).cache()
    n_lsh = lsh_pairs.count()
    n_sub = lsh_pairs.join(ex_pairs.select("id_a", "id_b"),
                           ["id_a", "id_b"], "left_semi").count()
    return (ex_pairs.agg(
        F.count("*").alias("n_exact_pairs"),
        F.round(F.avg("cosine"), 6).alias("avg_exact_cosine"))
        .select(
            "n_exact_pairs", "avg_exact_cosine",
            F.lit(n_sub == n_lsh).alias("subset_ok"),
            (F.lit(n_lsh) >= 0.02 * F.col("n_exact_pairs")).alias("recall_ok"),
            F.lit(n_lsh > 0).alias("nonempty_ok")))


def q_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (datapipe/linalg.dim_stats): one
    posexplode + one d-keyed groupBy delivers mean/variance (centering,
    diagonal whitening) and min/max (SQ8 ranges) for all 64 dimensions in
    ONE pass.  Full value oracle — population variance as
    E[x^2] - E[x]^2, written identically in both engines."""
    from flood_data_spark.datapipe.linalg import dim_stats

    return (dim_stats(_t(spark, sf_dir, "embeddings"))
            .select("pos", "n", "mean", "variance", "vmin", "vmax"))


def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix X'X upper triangle (datapipe/linalg.gram_matrix): the
    PCA/whitening front-end computed as per-partition EXACT integer
    partial Grams (micro-quantized components, int64 chunks, Python-int
    across chunks) inside ONE mapInPandas pass — the shuffle carries
    d(d+1)/2 DECIMAL(38,0) cells per partition, the corpus never moves,
    and the cross-partition sum is order-free integer addition (the
    linalg determinism discipline).  Full value oracle: DuckDB states
    the same integer cells relationally (positional unnest self-join,
    HUGEINT sums) and applies the identical descale + single round-4."""
    from flood_data_spark.datapipe.linalg import gram_matrix

    return (gram_matrix(_t(spark, sf_dir, "embeddings"), round_to=4)
            .select("i", "j", "val"))


def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of X'X by TWO power iterations
    (datapipe/linalg.power_iteration_top): v rides the executors as a
    d-sized literal per round (the k-means centroid-literal pattern), each
    round is one scan + one d-keyed shuffle, and per-step round(…, 6)
    pins the fixed-point sequence bit-for-bit across engines — so the
    oracle UNROLLS both iterations in ANSI SQL (the q_pagerank
    discipline for iterative operators)."""
    from flood_data_spark.datapipe.linalg import power_iteration_top

    v, _sigma2 = power_iteration_top(_t(spark, sf_dir, "embeddings"),
                                     iterations=2)
    # the guard reuses the d the operator already probed (len(v) == d) —
    # no second dimension-probe job
    if len(v) != 64:
        raise ValueError(f"q_power_iteration expects 64-dim embeddings "
                         f"(oracle hardcodes v0 = 0.125), got {len(v)}")
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(v)], "pos int, component double")


def q_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance upper triangle
    (datapipe/linalg.covariance_matrix): gram/n - mean_i*mean_j — the
    whitening/PCA input proper, composing the raw mapInPandas Gram with
    the d-keyed mean relation through two broadcast joins.  Full value
    oracle; rounding happens ONCE on the final expression (the
    q_gram_matrix lesson)."""
    from flood_data_spark.datapipe.linalg import covariance_matrix

    return (covariance_matrix(_t(spark, sf_dir, "embeddings"))
            .select("i", "j", "val"))


def _verif_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the forecast-verification gates: each order is
    a 'cell' whose lineitems are the ensemble members (value =
    l_quantity, m = 1..7), and the constant per-cell 'observation' is
    o_totalprice / 10000 — deterministic, join-keyed, and the obs
    expression tree (one double division) is mirrored literally in the
    oracles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select("l_orderkey", "l_quantity",
                    F.col("o_orderpriority").alias("lead"),
                    (F.col("o_totalprice") / F.lit(10000.0)).alias("obs")))


def q_crps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble CRPS per cell (operators/verification.crps_ensemble):
    the O(m log m) sorted-rank identity — Σ_{i<j}|x_i−x_j| =
    Σ(2i−1−m)·x_(i) — via ONE cell-partitioned rank window + one
    group-keyed aggregate of exact integer micro sums; the final score
    rounds in integer space (half_up((sae·m − pair)/m²)).  Full value
    oracle, and a DIFFERENTIAL one: DuckDB computes the pairwise term
    by brute force (rn < rn self-join), so the rank-trick algebra is
    checked against the definition on every gate run."""
    from flood_data_spark.operators.verification import crps_ensemble

    return crps_ensemble(_verif_ensemble(spark, sf_dir),
                         "l_quantity", "obs", ["l_orderkey"]) \
        .select("l_orderkey", "m", "crps")


def q_rank_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Talagrand rank histogram (operators/verification.rank_histogram):
    observation rank = 1 + strictly-below member count (ties go below —
    deterministic), two key-bounded exchanges.  Full value oracle."""
    from flood_data_spark.operators.verification import rank_histogram

    return rank_histogram(_verif_ensemble(spark, sf_dir),
                          "l_quantity", "obs", ["l_orderkey"]) \
        .select("rank", "n_cells")


def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score
    (operators/verification.brier_decomposition) for p = l_discount·10
    forecasting outcome l_returnflag = 'R', 10 equal-width bins: one
    scan → bin cells → broadcast totals → per-bin exact integer
    contributions; BS, REL, RES, UNC all round in integer space.  Full
    value oracle mirroring the bin floor, micro quantization, and
    HUGEINT per-bin half_up term-for-term."""
    from flood_data_spark.operators.verification import brier_decomposition

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int").alias("o"))
    return brier_decomposition(src, "p", "o", n_bins=10) \
        .select("brier", "reliability", "resolution", "uncertainty")


def q_spread_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spread-skill relation per lead (operators/verification
    .spread_skill) with lead = o_orderpriority: per-cell variance and
    squared-error-of-mean as exact integer micro ratios, lead-keyed
    integer reduction, ratio NULL-guarded at se = 0.  Full value
    oracle."""
    from flood_data_spark.operators.verification import spread_skill

    return spread_skill(_verif_ensemble(spark, sf_dir),
                        "l_quantity", "obs", ["l_orderkey"], "lead") \
        .select("lead", "n_cells", "spread", "skill", "ratio")


#: q_whiten's fixed axes/moments (shared between the Spark gate and the
#: oracle literals): unit axes 3 and 7 plus a mixed (0.6, 0.8) axis on
#: dims 1-2, Rayleigh second moments measured on a nominal 1000 rows
_WHITEN_SIG = [800.0, 420.0, 260.0]
_WHITEN_SCALES = [round(1.0 / (s / 1000.0 + 1e-9) ** 0.5, 6)
                  for s in _WHITEN_SIG]


def q_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening apply (datapipe/linalg.whiten_project): project on
    fixed axes and rescale to unit variance with driver-rounded scale
    literals — pure Column ops, no shuffle.  Exploded to (vec_id, dim,
    wval) rows; full value oracle restating the dot + scale with the
    identical literals and operand order."""
    from flood_data_spark.datapipe.linalg import whiten_project

    comps = [[0.0] * 64 for _ in range(3)]
    comps[0][3] = 1.0
    comps[1][7] = 1.0
    comps[2][1] = 0.6
    comps[2][2] = 0.8
    out = whiten_project(_t(spark, sf_dir, "embeddings"), comps,
                         _WHITEN_SIG, n_rows=1000)
    return out.select("vec_id",
                      F.posexplode("white").alias("dim", "wval"))


def q_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-curve points (operators/verification
    .reliability_diagram) over the q_brier_decomp forecast (p =
    l_discount·10, outcome = returnflag 'R', 10 bins): per-bin mean
    forecast probability, observed rate, and their gap — each rounded
    as its OWN exact integer ratio.  Full value oracle."""
    from flood_data_spark.operators.verification import reliability_diagram

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int").alias("o"))
    return reliability_diagram(src, "p", "o", n_bins=10) \
        .select("bin", "n", "p_mean", "o_rate", "gap")


def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring
    (datapipe/text.kneser_ney_scores): absolute discounting (D=0.75)
    with distinct-continuation-count backoff — the Chen-Goodman
    smoothing rung above q_bigram_ppl's Jelinek-Mercer, same LM-on-
    full-corpus / score-doc_id<300 split and output shape.  Every
    continuation count is an exact integer aggregate; the probability
    tree is mirrored operand-for-operand in the oracle.  Full value
    oracle."""
    from flood_data_spark.datapipe.text import kneser_ney_scores

    docs = _t(spark, sf_dir, "documents")
    return kneser_ney_scores(docs.filter(F.col("doc_id") < 300),
                             lm_corpus=docs)


def q_stream_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED Brier/Murphy decomposition
    (streaming/file_stream.brier_cell_stream + the SAME
    verification.brier_from_cells finisher as batch q_brier_decomp):
    lineitem rows arrive as a file stream, the bin-keyed exact-integer
    cells aggregate in complete mode (state <= 10 DECIMAL cells), the
    shared integer-space finisher runs on the materialized cells.  The
    oracle IS the batch q_brier_decomp SQL — stream/batch parity of
    the whole score, value-hashed."""
    from flood_data_spark.operators.verification import brier_from_cells
    from flood_data_spark.streaming.file_stream import brier_cell_stream

    def build(stream):
        src = stream.select(
            (F.col("l_discount") * F.lit(10.0)).alias("p"),
            (F.col("l_returnflag") == "R").cast("int").alias("o"))
        return brier_cell_stream(src, "p", "o", n_bins=10)

    cells = _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build, "stream_brier_",
        output_mode="complete")
    return brier_from_cells(cells) \
        .select("brier", "reliability", "resolution", "uncertainty")


def q_crps_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hersbach (2000) decomposition of the ensemble CRPS
    (operators/verification.crps_hersbach): per ensemble-size class,
    CRPS = RELI + POT from per-rank alpha/beta integrals — ONE
    cell-partitioned rank window (the q_crps window), each ranked row
    emits its interval contribution in exact integer micro-units, then
    a rank-bounded (m, i)-keyed exchange; all three scores round in
    integer space.  Full value oracle mirroring the interval CASE
    ladder and per-rank HUGEINT half_up term-for-term; the identities
    (CRPS = RELI + POT, CRPS = mean per-cell q_crps) are pytest
    assertions in tests/test_verification.py."""
    from flood_data_spark.operators.verification import crps_hersbach

    return crps_hersbach(_verif_ensemble(spark, sf_dir),
                         "l_quantity", "obs", ["l_orderkey"]) \
        .select("m", "n_cells", "crps", "reliability", "crps_pot")


def q_crps_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED ensemble CRPS (streaming/file_stream.crps_cell_stream +
    verification.crps_from_member_cells → the SAME _crps_finish as
    batch q_crps): lineitem rows arrive as a file stream, join the
    static orders side for the observation, and each cell's members
    collect in complete mode (state per cell = m quantized longs); the
    rank-identity finisher runs on the materialized cells.  The oracle
    IS the batch q_crps SQL — stream/batch parity of the whole score,
    value-hashed per cell."""
    from flood_data_spark.operators.verification import \
        crps_from_member_cells
    from flood_data_spark.streaming.file_stream import crps_cell_stream

    o = _t(spark, sf_dir, "orders")

    def build(stream):
        src = (stream.join(F.broadcast(o),
                           stream["l_orderkey"] == o["o_orderkey"])
               .select("l_orderkey", "l_quantity",
                       (F.col("o_totalprice") / F.lit(10000.0))
                       .alias("obs")))
        return crps_cell_stream(src, "l_quantity", "obs",
                                ["l_orderkey"])

    cells = _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build, "stream_crps_",
        output_mode="complete")
    return crps_from_member_cells(cells, ["l_orderkey"]) \
        .select("l_orderkey", "m", "crps")


def q_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED ensemble quantile score — the SAME member-cell stream
    state as q_crps_stream finished by a second scorer
    (verification.quantile_score_from_member_cells): one complete-mode
    stream, two verification products.  Quantiles interpolate the
    quantized members in EXACT integer centi-micro space; on the
    micro-exact gate fixture this reproduces the batch
    percentile/quantile_cont chain bit-for-bit, so the oracle IS the
    batch q_quantile_score SQL."""
    from flood_data_spark.operators.verification import \
        quantile_score_from_member_cells
    from flood_data_spark.streaming.file_stream import crps_cell_stream

    o = _t(spark, sf_dir, "orders")

    def build(stream):
        src = (stream.join(F.broadcast(o),
                           stream["l_orderkey"] == o["o_orderkey"])
               .select("l_orderkey", "l_quantity",
                       (F.col("o_totalprice") / F.lit(10000.0))
                       .alias("obs")))
        return crps_cell_stream(src, "l_quantity", "obs",
                                ["l_orderkey"])

    cells = _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build, "stream_qsc_",
        output_mode="complete")
    return quantile_score_from_member_cells(cells,
                                            taus=(0.1, 0.5, 0.9)) \
        .select("tau", "n_cells", "qscore")


def q_ece_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration cross-gate: Expected Calibration Error computed
    through BOTH bin ladders on shared input — the classifier family's
    (datapipe/classifier.evaluate_binary: exact integer si·bins div
    scale) and the verification family's (verification.brier_cells →
    ece_from_cells: double floor(p·bins) + integer-space ratio).  The
    fixture scores sit mid-bin ((l_partkey%100 + 0.5)/100), so the two
    ladders MUST agree; the pytest twin asserts ece_clf == ece_cells
    and the oracle mirrors each chain separately.  Two 1-row relations
    scalar-rejoined via broadcast crossJoin."""
    from flood_data_spark.datapipe.classifier import evaluate_binary
    from flood_data_spark.operators.verification import (brier_cells,
                                                         ece_from_cells)

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(
        (((F.col("l_partkey") % 100) + F.lit(0.5)) / F.lit(100.0))
        .alias("p"),
        (F.col("l_returnflag") == "R").cast("int").alias("o"))
    clf = evaluate_binary(src, "p", "o", bins=10) \
        .select(F.col("ece").alias("ece_clf"))
    cells = ece_from_cells(brier_cells(src, "p", "o", n_bins=10)) \
        .select(F.col("ece").alias("ece_cells"))
    return clf.crossJoin(F.broadcast(cells))


def q_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical forecast verification
    (operators/verification.contingency_scores): the 2x2 contingency
    table of p = l_discount·10 >= 0.5 vs outcome returnflag = 'R', and
    the POD/FAR/CSI/BIAS/Peirce/ETS/HSS skill ladder — one scan to four
    integer counts, every score an exact integer ratio (`_idiv_half_up`,
    sign-aware for worse-than-random PSS/ETS/HSS), NULL on zero
    denominators.  Full value oracle mirroring each ratio in HUGEINT."""
    from flood_data_spark.operators.verification import contingency_scores

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int").alias("o"))
    return contingency_scores(src, "p", "o", threshold=0.5) \
        .select("n", "hits", "false_alarms", "misses",
                "correct_negatives", "pod", "far", "csi", "bias",
                "peirce", "ets", "hss")


def _roc_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ROC input: probability p = l_discount·10 against outcome
    returnflag = 'R', grouped by l_linestatus — 11 distinct thresholds
    per group, ties everywhere (the tie-handling is the point)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_linestatus",
        (F.col("l_discount") * F.lit(10.0)).alias("p"),
        (F.col("l_returnflag") == "R").cast("int").alias("o"))


def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve per group (operators/verification.roc_curve): one
    point per candidate warn-threshold (the distinct forecast
    probabilities) with cumulative 2x2 counts and exact integer-micro
    POD/POFD ratios.  Full value oracle: DuckDB mirrors the
    descending-threshold cumulative window in HUGEINT."""
    from flood_data_spark.operators.verification import roc_curve

    return roc_curve(_roc_src(spark, sf_dir), "p", "o",
                     keys=["l_linestatus"])


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area under the ROC curve (operators/verification.roc_auc):
    exact trapezoid integration 2·P·N·AUC = Σ ΔFP·(TP_i + TP_{i−1})
    over the same cumulative relation — an exact integer closed by one
    `_idiv_half_up`; equals the tie-aware Mann-Whitney form (pinned in
    tests/test_round16_ops.py).  Full value oracle."""
    from flood_data_spark.operators.verification import roc_auc

    return roc_auc(_roc_src(spark, sf_dir), "p", "o",
                   keys=["l_linestatus"])


def q_quantile_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quantile (pinball) score per tau
    (operators/verification.quantile_score): each cell's exact
    tau-quantiles from ONE percentile buffer (the threshold-summary
    trick; Spark `percentile` == DuckDB `quantile_cont` bit-for-bit),
    then the mean pinball loss as an exact integer — 100·loss =
    (qy − qq)(100·tau − 100·ind) on micro-quantized values.  Full value
    oracle restating the whole chain."""
    from flood_data_spark.operators.verification import quantile_score

    return quantile_score(_verif_ensemble(spark, sf_dir),
                          "l_quantity", "obs", ["l_orderkey"],
                          taus=(0.1, 0.5, 0.9)) \
        .select("tau", "n_cells", "qscore")


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the Brier bin rates
    (operators/verification.isotonic_calibration): the minimax closed
    form max_{i<=k} min_{j>=k} rate(i..j) over the SAME bin cells as
    q_brier_decomp — prefix sums + a bin-bounded i<=k<=j triple join +
    two grouped min/max, interval rates quantized once at 1e-12 so the
    comparisons are integer.  Monotonicity and PAV-pooling equality are
    pytest assertions; full value oracle restating the minimax in
    HUGEINT."""
    from flood_data_spark.operators.verification import (brier_cells,
                                                         isotonic_calibration)

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int").alias("o"))
    return isotonic_calibration(brier_cells(src, "p", "o", n_bins=10)) \
        .select("bin", "n", "o_rate", "iso_rate")


def q_energy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate energy score over embedding 'ensembles'
    (operators/verification.energy_score): cell = vec_id % 50, the
    cell's minimum-id vector plays the observation, the rest the
    members; ES = mean ||x_i − y|| − half mean pairwise ||x_i − x_j||,
    norms quantized once to micro, final score one exact integer ratio.
    The pairwise join is cell-bounded (m² per cell), never corpus².
    Full value oracle (DuckDB list arithmetic mirrors the fold)."""
    from flood_data_spark.operators.verification import energy_score

    emb = _t(spark, sf_dir, "embeddings") \
        .select((F.col("vec_id") % 50).alias("cell"), "vec_id",
                "embedding")
    return energy_score(emb, "vec_id", "embedding", ["cell"]) \
        .select("cell", "m", "energy")


def q_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 between aligned document pairs (datapipe/text.rouge_n):
    candidates doc_id < 400 vs references (doc_id+400 re-keyed) — the
    summarization/eval overlap metric with CLIPPED multiset bigram
    counts; per-(id, gram) count relations joined once (fan-out 1),
    every ratio an exact integer ratio.  Full value oracle restating
    the tokenization, the position explode, and the clip in SQL."""
    from flood_data_spark.datapipe.text import rouge_n

    docs = _t(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") < 400).select("doc_id", "text")
    ref = (docs.filter((F.col("doc_id") >= 400)
                       & (F.col("doc_id") < 800))
           .select((F.col("doc_id") - 400).alias("doc_id"), "text"))
    return rouge_n(cand, ref, n=2) \
        .select("doc_id", "cand_grams", "ref_grams", "clip",
                "precision", "recall", "f1")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl ingest (sources/warc.py): per doc_id < 60 a
    deterministic two-record WARC — an HTTP 'response' carrying HTML
    and a 'request' — is BUILT and PARSED by the from-spec reader
    inside mapInPandas (the binaryFile decode seam's exact code path);
    ODD doc_ids ride the CommonCrawl one-gzip-member-per-record
    layout, so both the plain and the multi-member-inflate paths are
    value-checked every run.  Closed-form oracle (record layout is a
    literal function of doc_id)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60) \
        .select("doc_id")

    def run(batches):
        from flood_data_spark.sources.warc import (build_warc,
                                                   warc_to_dataframe)
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                html = f"<p>doc {did}</p>".encode()
                recs = [
                    {"record_type": "response",
                     "url": f"https://example.org/{did}",
                     "date": "2024-01-01T00:00:00Z",
                     "payload": html, "http": "text/html"},
                    {"record_type": "request",
                     "url": f"https://example.org/{did}",
                     "date": "2024-01-01T00:00:00Z",
                     "payload": b"GET"},
                ]
                rows = warc_to_dataframe(
                    build_warc(recs, gzip_members=bool(did % 2)))
                rows.insert(0, "doc_id", did)
                out.append(rows)
            if out:
                yield pd.concat(out, ignore_index=True)

    return docs.mapInPandas(
        run, schema="doc_id long, record_type string, url string,"
                    " date string, http_status int,"
                    " content_type string, payload string") \
        .select("doc_id", "record_type", "url", "http_status",
                "content_type", "payload")


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (datapipe/text.html_to_text): the
    documents' text wrapped in a full HTML scaffold (script + style +
    comment + entities + block tags), stripped by the zero-shuffle
    Column ladder.  The oracle restates every regexp_replace verbatim
    (all patterns RE2-safe by construction) — full value hash of the
    extraction."""
    from flood_data_spark.datapipe.text import html_to_text

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    html = F.concat(
        F.lit("<html><head><script>var a='<p>';</script>"
              "<style>p{color:red}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><div>tail&nbsp;&amp;amp;</div>"
              "<!-- boilerplate --></body></html>"))
    return docs.select("doc_id", html_to_text(html).alias("text"))


def q_dm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano forecast comparison per lead
    (operators/verification.dm_test, lag-0): loss A = |l_quantity −
    obs|, loss B = |l_extendedprice/2000 − obs| — exact integer loss
    differentials, two sqrt seams quantized per-factor (the ACC rule),
    sign-aware final ratio, NULL on zero-variance differentials.  Full
    value oracle mirroring the chain."""
    from flood_data_spark.operators.verification import dm_test

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    src = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
           .select(F.col("o_orderpriority").alias("lead"),
                   F.abs(F.col("l_quantity")
                         - F.col("o_totalprice") / F.lit(10000.0))
                   .alias("la"),
                   F.abs(F.col("l_extendedprice") / F.lit(2000.0)
                         - F.col("o_totalprice") / F.lit(10000.0))
                   .alias("lb")))
    return dm_test(src, "la", "lb", ["lead"]) \
        .select("lead", "n", "mean_diff", "dm_stat")


def q_dm_hac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano with the Newey-West HAC variance
    (operators/verification.dm_test_hac — VERDICT r15 #6): per-cell
    daily loss differentials off the shared hydrograph, Bartlett
    weights at max_lag=3 as EXACT integer autocovariance sums
    (e_t = n·qd_t − S clears the mean), one sqrt seam.  Full value
    oracle mirroring the whole chain including the lag windows."""
    from flood_data_spark.operators.verification import dm_test_hac

    daily = _daily_hydrograph(spark, sf_dir)
    src = daily.select(
        "cell", "day",
        F.abs(F.col("inflow") - F.lit(55.0)).alias("la"),
        F.abs(F.col("inflow") * F.lit(0.9) - F.lit(50.0)).alias("lb"))
    return dm_test_hac(src, "la", "lb", "day", ["cell"], max_lag=3)


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (operators/experiment.cuped_adjust):
    metric = l_extendedprice/1000 adjusted by its natural covariate
    l_quantity — θ from ONE exchange of exact integer moments, the
    1-row relation broadcast back (scalar-rejoin), per-row adjustment
    as an exact integer ratio.  Full value oracle mirroring θ and the
    adjustment in HUGEINT; mean-preservation and variance-reduction
    are pytest assertions."""
    from flood_data_spark.operators.experiment import cuped_adjust

    li = _t(spark, sf_dir, "lineitem")
    src = li.select("l_orderkey", "l_linenumber",
                    (F.col("l_extendedprice") / F.lit(1000.0))
                    .alias("y"),
                    F.col("l_quantity").alias("x"))
    return cuped_adjust(src, "y", "x",
                        keys=["l_orderkey", "l_linenumber"]) \
        .select("l_orderkey", "l_linenumber", "metric",
                "cuped_adjusted", "theta")


def q_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B readout
    (operators/experiment.msprt_readout, Johari et al. KDD 2017): the
    orders table becomes five concurrent experiments (one per order
    priority), each peeked monthly — variant by customer-key parity,
    success = totalprice > 150k.  Cumulative exact-integer counts per
    peek, the mixture-SPRT log-likelihood quantized ONCE to micro-nats,
    sticky rejection and the non-increasing always-valid p from the
    running max.  Full value oracle restating the identical double
    tree over DuckDB window cumulative sums; the peeking-validity
    contract (mSPRT holds alpha under 20-peek H0 streams where the
    z-test ladder does not) is the pytest in tests/test_experiment.py."""
    from flood_data_spark.operators.experiment import msprt_readout

    o = _t(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.trunc(F.col("o_orderdate"), "month").alias("peek"),
        F.when(F.col("o_custkey") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B")).alias("variant"),
        (F.col("o_totalprice") > 150000).cast("int").alias("success"))
    return msprt_readout(src, time_col="peek", variant_col="variant",
                         success_col="success", variant_a="A",
                         variant_b="B", tau2=0.01, alpha=0.05,
                         group_cols=("priority",))


def q_msprt_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED always-valid experiment monitor
    (streaming/file_stream.msprt_count_stream + the SAME
    experiment.msprt_from_counts finisher as batch q_msprt): the
    (priority, peek, variant) exact-count state aggregates in complete
    mode — the live daily-peeking dashboard — and the sequential
    finisher runs on the materialized state.  The oracle IS the batch
    SQL: stream/batch parity of the whole readout (logLambda ladder,
    sticky decision, always-valid p)."""
    from flood_data_spark.operators.experiment import msprt_from_counts
    from flood_data_spark.streaming.file_stream import msprt_count_stream

    def build(stream):
        src = stream.select(
            F.col("o_orderpriority").alias("priority"),
            F.trunc(F.col("o_orderdate"), "month").alias("peek"),
            F.when(F.col("o_custkey") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B")).alias("variant"),
            (F.col("o_totalprice") > 150000).cast("int")
            .alias("success"))
        return msprt_count_stream(src, time_col="peek",
                                  group_cols=("priority",))

    cnt = _run_file_stream(
        spark, f"{sf_dir}/orders.parquet", build, "stream_msprt_",
        output_mode="complete")
    return msprt_from_counts(cnt, tau2=0.01, alpha=0.05,
                             group_cols=("priority",))


def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-world E1 — URL canonicalization → HTML extraction →
    URL-level dedup, ONE plan: messy fetch URLs (doc_id % 350 collision
    groups with per-fetch tracking params) canonicalize via
    normalize_url, payloads extract via the html_to_text ladder,
    duplicate fetches of one resource collapse to the MINIMUM doc_id
    (the deterministic keep-first), and the survivor reports its
    extracted text length.  Full value oracle: the canonical form and
    the extraction chain both restated, the dedup as a plain GROUP BY
    min.  One scan, one url_norm-keyed exchange."""
    from flood_data_spark.datapipe.curation import normalize_url
    from flood_data_spark.datapipe.text import html_to_text

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 700)
    url = F.concat(
        F.lit("HTTP://Crawl"), (F.col("doc_id") % 350).cast("string"),
        F.lit(".example:80/page?utm_medium=x&v="),
        (F.col("doc_id") % 350).cast("string"), F.lit("#s"))
    html = F.concat(F.lit("<body><p>"), F.col("text"),
                    F.lit("</p></body>"))
    staged = docs.select(
        "doc_id",
        normalize_url(url).alias("url_norm"),
        F.length(html_to_text(html)).alias("text_len"))
    return (staged.groupBy("url_norm")
            .agg(F.min(F.struct("doc_id", "text_len")).alias("_keep"))
            .select("url_norm",
                    F.col("_keep.doc_id").alias("doc_id"),
                    F.col("_keep.text_len").alias("text_len"))
            .orderBy("url_norm"))


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization (datapipe/curation.normalize_url /
    url_host): mixed-case scheme+host, userinfo, default port, utm
    tracking params, unsorted query, fragment — all normalized per the
    documented rules.  The oracle states the INTENDED canonical form
    directly (a closed form of doc_id), so the whole regex chain is
    checked against intent, not against a restatement of itself."""
    from flood_data_spark.datapipe.curation import with_url_keys

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    url = F.concat(
        F.lit("HTTPS://user@WWW.Site"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(".ORG:443/p/"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&b="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&a=1#frag?not=query"))
    return with_url_keys(docs.select("doc_id", url.alias("url"))) \
        .select("doc_id", "url_host", "url_norm")


def q_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly Correlation Coefficient per lead
    (operators/verification.anomaly_correlation): anomalies as exact
    integer differences of quantized forecast/observation/climatology,
    one group-keyed exchange, denominator = product of two IEEE sqrts
    of exact integers quantized once, sign-aware final ratio.  Full
    value oracle mirroring the chain."""
    from flood_data_spark.operators.verification import anomaly_correlation

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    src = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
           .select(F.col("o_orderpriority").alias("lead"),
                   F.col("l_quantity").alias("f"),
                   (F.col("o_totalprice") / F.lit(1000.0)).alias("obs"),
                   ((F.col("l_partkey") % 30) + F.lit(10.0))
                   .alias("clim")))
    return anomaly_correlation(src, "f", "obs", "clim", ["lead"]) \
        .select("lead", "n", "acc")


def q_seeps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEEPS precipitation score (operators/verification.seeps_score,
    Rodwell et al. 2010): 3-category (dry/light/heavy) error matrix
    rational in the per-group sample climatology p1, one corpus
    exchange to NINE cells per return flag, each matrix entry quantized
    once per cell, the score an exact integer ratio.  Full value oracle
    restating the category ladder, the p1 division, every matrix entry,
    and the integer-space finish."""
    from flood_data_spark.operators.verification import seeps_score

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_returnflag").alias("flag"),
                    ((F.col("l_partkey") % 50) + F.lit(0.5)).alias("f"),
                    F.col("l_quantity").alias("o"))
    return seeps_score(src, "f", "o", ("flag",),
                       dry_threshold=17.0, wet_split=39.0) \
        .select("flag", "n", F.round("seeps", 6).alias("seeps"),
                F.round("skill", 6).alias("skill"))


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch readability (datapipe/text.with_readability): word /
    sentence-run / vowel-group counts as whole-text regexp aggregates
    in ONE codegen projection, both scores exact integer arithmetic
    (micro-ratio terms + exact constants — no double rounds).  Texts
    get a planted sentence/punctuation suffix so the '[.!?]+' run
    counting and the syllable clamp are both exercised.  Full value
    oracle restating every count and ratio."""
    from flood_data_spark.datapipe.text import with_readability

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 800)
    src = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(". Ok!? xy "),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(" rhythm myth.")).alias("text"))
    return with_readability(src, "text") \
        .select("doc_id", "n_words", "n_sentences", "n_syllables",
                "flesch_ease", "fk_grade")


def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS fit (datapipe/text.zipf_fit): term
    counts over the shared tokenization, deterministic rank ties,
    ln(rank)/ln(freq) micro-nats quantized once, slope/intercept exact
    integer ratios over BIGINT sums.  Full value oracle restating the
    rank window, both logs, and the closed-form OLS."""
    from flood_data_spark.datapipe.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents")
                    .filter(F.col("doc_id") < 900),
                    "text", top_ranks=500)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution
    (operators/behavior.attribution_credit): journeys delimited by the
    running purchase count over one deterministic user-keyed window
    (ts, event_id ties), BOTH the last-touch and the linear model in
    one result (union, tagged) — exact micro-credit sums, linear's
    per-touch share an exact integer ratio.  Full value oracle
    restating the window ladder and both credit rules."""
    from flood_data_spark.operators.behavior import attribution_credit

    ev = _t(spark, sf_dir, "events")
    out = []
    for tag, model in (("last", "last_touch"), ("linear", "linear")):
        out.append(attribution_credit(ev, model=model)
                   .withColumn("model", F.lit(tag)))
    return (out[0].unionByName(out[1])
            .select("model", "channel", "n_touches", "n_credited",
                    F.round("credit", 6).alias("credit")))


def q_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two document halves
    (operators/stats.js_divergence): vocabulary-bounded full outer
    join of the two unigram count relations, exact-integer mixture
    ratios inside one double tree per term, signed micro-nat
    quantization once per contribution, the halving an exact integer
    ratio.  Full value oracle restating the whole chain."""
    from flood_data_spark.operators.stats import js_divergence

    docs = _t(spark, sf_dir, "documents")
    p = docs.filter(F.col("doc_id") < 400)
    q = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 800))
    return js_divergence(p, q, "text")


def q_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval per order priority
    (operators/experiment.wilson_interval): exact integer counts, the
    whole interval ONE fixed-operand-order double seam with lo/hi each
    quantized once to micro, p-hat the exact integer ratio.  Full
    value oracle restating the identical seam."""
    from flood_data_spark.operators.experiment import wilson_interval

    o = _t(spark, sf_dir, "orders")
    src = o.select(F.col("o_orderpriority").alias("priority"),
                   (F.col("o_totalprice") > 150000).cast("int")
                   .alias("success"))
    return wilson_interval(src, "success", ("priority",)) \
        .select("priority", "n", "x", "p", "lo", "hi")


def q_spiegelhalter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's calibration Z per lead
    (operators/verification.spiegelhalter_z): micro-quantized
    probabilities, exact integer numerator / squared-denominator sums,
    one per-group sqrt quantized to its integer value, Z an exact
    integer ratio.  Full value oracle restating the chain."""
    from flood_data_spark.operators.verification import spiegelhalter_z

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_linenumber").alias("lead"),
                    (F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int")
                    .alias("o"))
    return spiegelhalter_z(src, "p", "o", ("lead",)) \
        .select("lead", "n", "z", "well_calibrated")


def q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation
    (datapipe/curation.neyman_allocation): per-stratum exact integer
    moments, S_h via one per-stratum sqrt quantized once, weights
    N_h*S_h exact, grand total broadcast back, each allocation an
    exact integer ratio capped at N_h.  Full value oracle."""
    from flood_data_spark.datapipe.curation import neyman_allocation

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_returnflag").alias("stratum"),
                    F.col("l_extendedprice").alias("v"))
    return neyman_allocation(src, "v", ("stratum",), total_n=10_000) \
        .select("stratum", "n_pop", "sd", "alloc")


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring
    (datapipe/fuzzy.fs_linkage_weights + fs_score_pairs): labeled
    candidate pairs (customer i vs i+700), three agreement fields
    (nation, market segment, balance proximity), Laplace-smoothed m/u
    probabilities, per-field log-likelihood weights rounded once to
    micro-nats, per-pair scores as exact integer sums.  Full value
    oracle restating counts, both probability ratios, both logs, and
    the conditional sum."""
    from flood_data_spark.datapipe.fuzzy import fs_score_pairs

    c = _t(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("id1"),
                 F.col("c_nationkey").alias("n1"),
                 F.col("c_mktsegment").alias("s1"),
                 F.col("c_acctbal").alias("b1"))
    b = c.select((F.col("c_custkey") - 700).alias("id1"),
                 F.col("c_custkey").alias("id2"),
                 F.col("c_nationkey").alias("n2"),
                 F.col("c_mktsegment").alias("s2"),
                 F.col("c_acctbal").alias("b2"))
    pairs = a.join(b, "id1").select(
        "id1", "id2",
        (F.col("n1") == F.col("n2")).alias("same_nation"),
        (F.col("s1") == F.col("s2")).alias("same_segment"),
        (F.abs(F.col("b1") - F.col("b2")) < 1000).alias("bal_close"),
        ((F.col("id1") % 5) == 0).cast("int").alias("match"))
    return fs_score_pairs(pairs, ("id1", "id2"),
                          ("same_nation", "same_segment", "bal_close"),
                          "match") \
        .select("id1", "id2", "match", F.round("score", 6).alias("score"))


def q_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric CI
    (operators/experiment.ratio_metric_ci, Deng et al. 2018): revenue
    per unit quantity per return flag — exact integer moments, the
    centered quadratics kept exact in decimal (the covariance-
    cancellation discipline), ONE mirrored double seam for the standard
    error quantized once, ratio and CI margin as exact integer
    ratios/products.  Full value oracle restating the whole chain."""
    from flood_data_spark.operators.experiment import ratio_metric_ci

    li = _t(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_returnflag").alias("flag"),
                    (F.col("l_extendedprice") / F.lit(1000.0))
                    .alias("x"),
                    F.col("l_quantity").alias("y"))
    return ratio_metric_ci(src, "x", "y", ("flag",)) \
        .select("flag", "n", "ratio", "se", "lo", "hi")


def q_cost_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-loss economic value curve
    (operators/verification.cost_loss_value) over the q_contingency 2x2
    counts: V(alpha) for a 10-step percent ladder, each value ONE exact
    integer ratio after clearing the common denominator
    100·n·(b+d)·(a+c) — the alpha explode touches a 1-row relation, no
    second corpus pass.  Full value oracle restating every cleared
    term."""
    from flood_data_spark.operators.verification import (
        contingency_counts, cost_loss_value)

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int").alias("o"))
    return cost_loss_value(contingency_counts(src, "p", "o", 0.5)) \
        .select("alpha", "value")


def _rlhf_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the RLHF-curation gates: each order is a
    'prompt', its lineitems the sampled responses (rid =
    l_linenumber), reward = l_extendedprice/1000 — deterministic and
    mirrored literally in the oracles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(F.col("l_orderkey").alias("prompt"),
                     F.col("l_linenumber").cast("long").alias("rid"),
                     (F.col("l_extendedprice") / F.lit(1000.0))
                     .alias("reward"))


def q_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage normalization
    (datapipe/rlhf.group_advantages — the GRPO estimator): per-prompt
    mean/std from ONE exchange of exact integer partials, adv =
    (r−mean)/std assembled as one integer ratio over qstdn =
    floor(sqrt(SS·n − S²)+0.5) (the single float seam — an IEEE sqrt
    of an exact integer, identical in every engine), zero for
    degenerate groups.  Full value oracle mirroring the whole chain."""
    from flood_data_spark.datapipe.rlhf import group_advantages

    return group_advantages(_rlhf_src(spark, sf_dir),
                            "prompt", "rid", "reward") \
        .select("prompt", "rid", "reward", "advantage")


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n response selection (datapipe/rlhf.best_of_n): per
    prompt the max-reward response with the deterministic
    smallest-id tiebreak, via ONE struct-max aggregate — no window, no
    second exchange.  Full value oracle (row_number twin)."""
    from flood_data_spark.datapipe.rlhf import best_of_n

    return best_of_n(_rlhf_src(spark, sf_dir),
                     "prompt", "rid", "reward") \
        .select("prompt", "best_id", "best_reward", "n_candidates")


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO chosen/rejected pair construction (datapipe/rlhf.dpo_pairs):
    per prompt the best-vs-worst response pair (deterministic
    tiebreaks), groups with >= 2 responses and a strictly positive
    micro-quantized margin — ONE struct-min/max aggregate.  The pairs
    feed datapipe/preference.bradley_terry downstream.  Full value
    oracle."""
    from flood_data_spark.datapipe.rlhf import dpo_pairs

    return dpo_pairs(_rlhf_src(spark, sf_dir),
                     "prompt", "rid", "reward") \
        .select("prompt", "chosen_id", "rejected_id", "chosen_reward",
                "rejected_reward", "margin")


def q_stream_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED categorical verification
    (streaming/file_stream.contingency_count_stream + the SAME
    verification.contingency_from_counts finisher as batch
    q_contingency_scores): the 2x2 table aggregates in complete mode
    (state = 4 DECIMAL cells), the shared integer-space skill ladder
    runs on the materialized counts.  The oracle IS the batch SQL —
    stream/batch parity of all seven scores."""
    from flood_data_spark.operators.verification import \
        contingency_from_counts
    from flood_data_spark.streaming.file_stream import \
        contingency_count_stream

    def build(stream):
        src = stream.select(
            (F.col("l_discount") * F.lit(10.0)).alias("p"),
            (F.col("l_returnflag") == "R").cast("int").alias("o"))
        return contingency_count_stream(src, "p", "o", threshold=0.5)

    cnt = _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build, "stream_cont_",
        output_mode="complete")
    return contingency_from_counts(cnt) \
        .select("n", "hits", "false_alarms", "misses",
                "correct_negatives", "pod", "far", "csi", "bias",
                "peirce", "ets", "hss")


def q_roc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED ROC curve (streaming/file_stream.roc_cell_stream + the
    SAME roc_counts_from_cells/roc_curve_from_counts finishers as batch
    q_roc_curve): the per-threshold cells aggregate in complete mode
    (state = distinct probabilities per group), the cumulative window
    and integer-ratio curve points run on the materialized cells.  The
    oracle IS the batch SQL — stream/batch parity of every curve
    point."""
    from flood_data_spark.operators.verification import (
        roc_counts_from_cells, roc_curve_from_counts)
    from flood_data_spark.streaming.file_stream import roc_cell_stream

    def build(stream):
        src = stream.select(
            "l_linestatus",
            (F.col("l_discount") * F.lit(10.0)).alias("p"),
            (F.col("l_returnflag") == "R").cast("int").alias("o"))
        return roc_cell_stream(src, "p", "o", keys=["l_linestatus"])

    cells = _run_file_stream(
        spark, f"{sf_dir}/lineitem.parquet", build, "stream_roc_",
        output_mode="complete")
    keys = ["l_linestatus"]
    return roc_curve_from_counts(roc_counts_from_cells(cells, keys),
                                 keys)


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fitting
    (datapipe/preference.bradley_terry): lineitem rows play RLHF
    preference pairs (winner = l_partkey % 8, loser =
    (l_partkey*7 + l_suppkey) % 8, self-pairs dropped), TWO MM rounds.
    The corpus collapses once into the distinct-pair comparison
    relation; each round is one broadcast join + one item-keyed
    exchange, all arithmetic in exact integer micro-units
    (`_idiv_half_up` end to end — no double until display).  Full value
    oracle: DuckDB unrolls both MM rounds in HUGEINT CTEs."""
    from flood_data_spark.datapipe.preference import bradley_terry

    li = _t(spark, sf_dir, "lineitem")
    prefs = li.select((F.col("l_partkey") % 8).alias("w"),
                      ((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 8)
                      .alias("l"))
    return bradley_terry(prefs, "w", "l", iterations=2) \
        .select("item", "n_wins", "n_games", "strength")


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution (datapipe/fuzzy.blocked_fuzzy_pairs)
    over part names: distinct-name shrink → last-token blocking (candidates
    are sum(block^2), never n^2) → lossless length-band prune → bounded
    levenshtein <= 3.  Full value oracle — DuckDB's levenshtein is the
    same classic DP, and ids/counts ride the name relation."""
    from flood_data_spark.datapipe.fuzzy import blocked_fuzzy_pairs

    return (blocked_fuzzy_pairs(_t(spark, sf_dir, "part"),
                                id_col="p_partkey", text_col="p_name",
                                max_dist=3)
            .select("name_a", "name_b",
                    F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    "n_a", "n_b",
                    F.col("dist").cast("int").alias("dist")))


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog canonicalization (datapipe/fuzzy.fuzzy_match_against): even
    part keys matched against the odd-key reference catalog, best match
    per name within distance 3, deterministic argmin (dist, then name,
    then id).  Full value oracle — the candidate relation and the window
    argmin both restate in SQL."""
    from flood_data_spark.datapipe.fuzzy import fuzzy_match_against

    part = _t(spark, sf_dir, "part")
    batch = part.filter(F.col("p_partkey") % 2 == 0)
    ref = (part.filter(F.col("p_partkey") % 2 == 1)
           .select(F.col("p_partkey").alias("ref_id"),
                   F.col("p_name").alias("name")))
    return (fuzzy_match_against(batch, ref, batch_id="p_partkey",
                                batch_text="p_name", max_dist=3)
            .select("name", "match_name",
                    F.col("match_id").cast("long").alias("match_id"),
                    F.col("dist").cast("int").alias("dist")))


def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch round trip (datapipe/sketches.cms_build/estimate):
    a 3 x 512 sketch of all document token occurrences, probed for every
    token with exact count >= 40.  Integer-only md5 arithmetic — the
    sketch cells and the min-over-rows estimates replicate exactly in
    SQL, so the estimate column is value-hashed, collisions included,
    alongside the exact truth."""
    from flood_data_spark.datapipe.sketches import cms_build, cms_estimate

    toks = (_t(spark, sf_dir, "documents")
            .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("token"))
            .filter(F.col("token") != ""))
    sk = cms_build(toks, key_col="token", width=512, depth=3)
    # localCheckpoint: `exact` feeds BOTH the probe-keys relation and the
    # final join — vocabulary-bounded, so materializing once beats
    # re-tokenizing the corpus per consumer (curation.py:502 rule)
    exact = (toks.groupBy("token")
             .agg(F.count(F.lit(1)).alias("exact"))
             .filter(F.col("exact") >= 40)
             .localCheckpoint(eager=False))
    return (cms_estimate(sk, exact.select("token"), key_col="token",
                         width=512, depth=3)
            .join(exact, "token")
            .select("token", "est", "exact"))


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-window EWMA per user (operators/timeseries.with_ewma):
    the recursive smoothing y = 0.25x + 0.75y folded over the trailing 8
    observations — one ordered window collecting a bounded array + a
    row-LOCAL sequential fold.  Full value oracle with NO rounding games:
    the fold order is identical in both engines (DuckDB list_reduce
    seeds with the first element, mirrored via element_at/slice) and
    alpha = 0.25 is an exact binary fraction, so the doubles are
    bit-identical — and therefore compared RAW: adding a "safety"
    round-6 actually BROKE parity at sf0.1 (a fold landing on the
    decimal half-point 128.9853125 rounds differently per engine —
    rounding bit-identical values can only ever hurt)."""
    from flood_data_spark.operators.timeseries import with_ewma

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 25) \
        .select("event_id", "user_id", "ts", "value")
    return with_ewma(ev, key_col="user_id", ts_col="ts",
                     value_col="value", alpha=0.25, window=8,
                     tiebreak_col="event_id")


def q_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-history EWMA as a stateful stream
    (streaming/stateful.ewma_stream, applyInPandasWithState): the
    sequential recursion the batch operator must truncate (with_ewma
    bounds its window because unbounded batch state is O(history) per
    row) runs exactly, with ONE double of state per key.  RAW value
    oracle: DuckDB folds each key's complete ordered history with
    list_reduce — sequential float64 both sides, bit-identical, no
    rounding.  This is the one gate where the STREAMING plan computes
    something the relational batch plan cannot express scalably."""
    from flood_data_spark.streaming.stateful import ewma_stream

    def build(stream):
        ev = stream.filter(F.col("user_id") < 25) \
            .select("event_id", "user_id", "ts", "value")
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        return ewma_stream(ev, alpha=0.25)

    return _run_file_stream(spark, f"{sf_dir}/events.parquet", build,
                            "ewma_stream_", output_mode="append")


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-bounded first-order Markov transition matrix
    (operators/behavior.transition_matrix): pair counts +
    row-normalized probabilities over next_event_pairs' session-exact
    pairs.  Full value oracle — interpolates the SAME shared pairs
    chain as q_next_event_pairs (one definition, two gates)."""
    from flood_data_spark.operators.behavior import transition_matrix

    return (transition_matrix(_t(spark, sf_dir, "events"),
                              gap_seconds=3600,
                              order_tiebreak="event_id")
            .select("event_type", "next_event_type", "n", "p"))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user
    (operators/behavior.funnel): stage i is the earliest matching event
    STRICTLY after the key's stage i-1 time — k-1 user-keyed min-join
    stages, never a per-user array.  Full value oracle: the same greedy
    min chain as CTEs."""
    from flood_data_spark.operators.behavior import funnel

    ev = _t(spark, sf_dir, "events")
    return (funnel(ev, ["view", "click", "purchase"])
            .select("user_id", "step_1_ts", "step_2_ts", "step_3_ts",
                    "depth"))


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/behavior.cohort_retention):
    users cohorted by the ISO week of their first event; (cohort,
    offset) distinct-active counts + the fraction of the cohort's week-0
    size.  Two shuffles, cohort-bounded output.  Full value oracle —
    date_trunc('week') is ISO-Monday in both engines."""
    from flood_data_spark.operators.behavior import cohort_retention

    return (cohort_retention(_t(spark, sf_dir, "events"), period="week")
            .select(F.to_date("cohort").alias("cohort"),
                    "offset", "n_active", "retention"))


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per user (operators/timeseries.ohlc_bars): one
    (key, bar) groupBy with min_by/max_by over a (ts, event_id) struct
    ordering key — deterministic open/close under timestamp ties.  Full
    value oracle: the oracle states open/close via ascending/descending
    row_number windows over the same ordering."""
    from flood_data_spark.operators.timeseries import ohlc_bars

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (ohlc_bars(ev, bar="hour", tiebreak_col="event_id")
            .select("user_id", "bar", "open", "high", "low", "close",
                    "n_obs"))


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user
    (operators/timeseries.time_weighted_avg): each observation holds
    until its successor (lead gap in µs), terminal observations weight
    0 — the burst-robust estimator plain avg is not.  Full value
    oracle — lead + weighted-sum arithmetic, round-6 on the ratio."""
    from flood_data_spark.operators.timeseries import time_weighted_avg

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (time_weighted_avg(ev, tiebreak_col="event_id")
            .select("user_id", "twap", "span_us", "n_obs"))


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed point-in-interval join
    (operators/timeseries.interval_join): lineitem ship dates against
    1-5-day order windows — intervals explode to their day buckets,
    points hash-join on their ONE bucket, the exact half-open range
    filters after (no BroadcastNestedLoopJoin — plan-asserted in
    tests/test_timeseries.py).  Full value oracle: DuckDB states the
    naive range join; results are identical by construction."""
    from flood_data_spark.operators.timeseries import interval_join

    iv = (_t(spark, sf_dir, "orders")
          .filter(F.col("o_orderkey") < 100)
          .select(F.col("o_orderkey").alias("iv_key"),
                  F.col("o_orderdate").alias("start"),
                  F.expr("o_orderdate + make_interval(0, 0, 0, "
                         "cast(1 + o_orderkey % 5 as int), 0, 0, 0)")
                  .alias("end")))
    pt = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select("l_orderkey", "l_linenumber",
                  F.col("l_shipdate").alias("ts")))
    return (interval_join(pt, iv, point_ts="ts", bucket_seconds=86400)
            .select("l_orderkey", "l_linenumber", "ts",
                    F.col("iv_key").cast("long").alias("iv_key"),
                    "start", "end"))


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (streaming/file_stream
    .interval_join_stream): click→purchase attribution — both sides of
    the join are unbounded streams (a self-join of the events file
    stream), paired per user within a half-open 2-hour window.  The
    range predicate + watermarks bound the join state at delay ×
    arrival rate; every other streaming join in the suite is
    stream × static.  Full value oracle: the batch interval self-join
    in SQL (append-mode inner joins emit exactly the batch result)."""
    from flood_data_spark.streaming.file_stream import (
        interval_join_stream)

    def build(stream):
        # watermarks require TIMESTAMP (LTZ); the parquet ts is NTZ and
        # the session timezone is pinned UTC, so the cast is exact
        clicks = (stream.filter(F.col("event_type") == "click")
                  .select("user_id",
                          F.col("ts").cast("timestamp").alias("l_ts"),
                          F.col("event_id").alias("click_id")))
        buys = (stream.filter(F.col("event_type") == "purchase")
                .select(F.col("user_id").alias("user_id_r"),
                        F.col("ts").cast("timestamp").alias("r_ts"),
                        F.col("event_id").alias("purchase_id")))
        return (interval_join_stream(clicks, buys,
                                     max_delay_seconds=7200)
                .select("user_id", "click_id", "purchase_id",
                        "l_ts", "r_ts"))

    return _run_file_stream(spark, f"{sf_dir}/events.parquet", build,
                            "stream_join_", output_mode="append")


def q_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-triggered CUSUM alarms as a stateful stream
    (streaming/stateful.cusum_alarm_stream): FULL-history S = max(0,
    S + x - 60) per user, a row emitted only when S crosses 200 upward
    (re-armed below).  Raw value oracle — the per-prefix folds restate
    in SQL (unbounded list + the max(0,·)-seeded list_reduce) and the
    crossing is a lag over them; sequential float64 both sides, no
    rounding (the q_ewma discipline)."""
    from flood_data_spark.streaming.stateful import cusum_alarm_stream

    def build(stream):
        ev = stream.filter(F.col("user_id") < 25) \
            .select("event_id", "user_id", "ts", "value")
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        return cusum_alarm_stream(ev, target=55.0, slack=5.0,
                                  threshold=200.0)

    return _run_file_stream(spark, f"{sf_dir}/events.parquet", build,
                            "cusum_stream_", output_mode="append")


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic per user
    (operators/timeseries.with_cusum): S = max(0, S + x - target -
    slack) folded over the trailing 16 observations, with the >= 200
    alarm flag — the Page change-detection statistic as a bounded
    row-local fold.  Raw value oracle (no rounding — the q_ewma
    bit-identical-fold argument); the oracle pre-maps element 1 through
    max(0, ·) so DuckDB's first-element-seeded list_reduce runs the
    identical recursion."""
    from flood_data_spark.operators.timeseries import with_cusum

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 25) \
        .select("event_id", "user_id", "ts", "value")
    return with_cusum(ev, key_col="user_id", ts_col="ts",
                      value_col="value", target=55.0, slack=5.0,
                      threshold=200.0, window=16,
                      tiebreak_col="event_id")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS (datapipe/graph.hits) over the DIRECTED customer →
    supplier co-order graph (q_pagerank's relation without the
    undirected union): hubs are ordering customers, authorities are
    supplied parts' suppliers.  Two iterations, L2-normalized, round-6
    per half-step — the oracle unrolls all four half-steps in SQL, so
    this iterative operator carries a full value hash (the q_pagerank
    discipline)."""
    from flood_data_spark.datapipe.graph import hits

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    li = _t(spark, sf_dir, "lineitem")
    edges = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 1_000_000).alias("dst"))
             .distinct())
    return hits(edges, iterations=2)


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (datapipe/graph.
    label_propagation) over the undirected customer↔supplier co-order
    graph: customers < 20 seed 'lo'/'hi' quality labels, two
    Zhu-Ghahramani iterations (spread = Σ neighbor mass / full
    in-degree, seeds clamped).  Full value oracle — both iterations
    unrolled in SQL with the same per-step round-6 (the q_pagerank
    discipline)."""
    from flood_data_spark.datapipe.graph import label_propagation

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    li = _t(spark, sf_dir, "lineitem")
    pairs = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("c"),
                     (F.col("l_suppkey") + 1_000_000).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("c").alias("dst"))))
    seeds = (pairs.select("c").distinct().filter(F.col("c") < 20)
             .select(F.col("c").alias("node"),
                     F.when(F.col("c") < 10, "lo").otherwise("hi")
                     .alias("label"),
                     F.lit(1.0).alias("weight")))
    return (label_propagation(edges, seeds, iterations=2)
            .select("node", "label", "mass"))


def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed count-min sketch (streaming/file_stream.cms_stream):
    complete-mode availableNow over the documents stream — the
    aggregation state IS the sketch, hard-bounded at depth*width cells
    regardless of stream length or vocabulary (cf. heavy hitters, whose
    state is vocabulary-bounded).  Full value oracle: the final table
    must equal the batch cells relation bit-for-bit (_CMS_CELLS_CTES —
    the same single definition q_cms_tokens interpolates)."""
    from flood_data_spark.streaming.file_stream import cms_stream

    def build(stream):
        return cms_stream(stream.select("text"), width=512, depth=3)

    return _run_file_stream(spark, f"{sf_dir}/documents.parquet", build,
                            "cms_stream_", output_mode="complete")


# =====================================================================
# Driver contract
# =====================================================================

def q_oof_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding (datapipe/features
    .oof_target_encoding, 5 md5-assigned folds): each order's priority
    encoding is the total-price mean computed WITHOUT its own fold —
    the leakage-free production form of q_target_encode.  Exact integer
    fold sums; the leave-one-fold-out value is a division of exact
    integers."""
    from flood_data_spark.datapipe.features import oof_target_encoding

    orders = _t(spark, sf_dir, "orders")
    return (oof_target_encoding(orders, ("o_orderpriority",),
                                "o_totalprice", "o_orderkey", n_folds=5)
            .select("o_orderkey", "o_orderpriority", "fold", "oof_enc"))


def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED drift monitor (streaming/file_stream.bucket_count_stream
    + the SAME stats.psi_from_counts finisher as batch q_psi): purchase
    events arrive as a file stream, bucket against the reference-derived
    literal ladder (state = B cells, complete mode), finish with the
    shared PSI arithmetic.  The oracle IS the batch q_psi SQL —
    stream/batch parity of the whole monitor, value-hashed."""
    from flood_data_spark.operators.stats import (
        bucket_counts, equidepth_bounds, psi_from_counts)
    from flood_data_spark.streaming.file_stream import bucket_count_stream

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") != "purchase")
    bounds = equidepth_bounds(ref, "value", 10)
    ref_counts = bucket_counts(ref, "value", bounds, "n_ref")

    def build(stream):
        return bucket_count_stream(
            stream.filter(F.col("event_type") == "purchase"),
            "value", bounds)

    cur_counts = _run_file_stream(
        spark, f"{sf_dir}/events.parquet", build, "stream_psi_",
        output_mode="complete")
    return psi_from_counts(ref_counts, cur_counts)


def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (operators/experiment
    .conformal_interval, α=0.1): residual quantile at the finite-sample
    -corrected level on the even-user calibration half, applied as a
    ±q̂ band to the odd-user half.  The oracle re-derives the corrected
    level AND Spark's exact percentile interpolation (lo·(hi−pos) +
    hi·(pos−lo)) by hand — quantile_cont can't take a computed level."""
    from flood_data_spark.operators.experiment import conformal_interval

    ev = _t(spark, sf_dir, "events").withColumn(
        "yhat", F.lit(0.5) * F.col("value") + F.lit(25.0))
    cal = ev.filter(F.col("user_id") % 2 == 0)
    new = ev.filter(F.col("user_id") % 2 == 1)
    return (conformal_interval(cal, new, "value", "yhat", alpha=0.1)
            .select("event_id", "value", "yhat", "conformal_q",
                    "conformal_lo", "conformal_hi"))


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the purchase and non-purchase
    value distributions (operators/stats.psi_report): equi-depth bins of
    the REFERENCE (the operational binning convention), Laplace-floored
    shares, per-bucket (p_cur−p_ref)·ln(p_cur/p_ref) terms micro-rounded
    once — Σ psi_term_micro is the exact-integer drift statistic."""
    from flood_data_spark.operators.stats import psi_report

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") != "purchase")
    cur = ev.filter(F.col("event_type") == "purchase")
    return psi_report(ref, cur, "value", n_buckets=10)


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-tokenizer seed vocabulary (datapipe/unigram
    .seed_vocabulary): all single chars (coverage floor) + top-64
    weighted substrings ≤ 4 chars off the distinct-word relation,
    costs = micro-rounded -ln(freq/char-mass).  Full value oracle."""
    from flood_data_spark.datapipe.unigram import (
        seed_vocabulary, word_table)

    words = word_table(_t(spark, sf_dir, "documents"))
    return seed_vocabulary(words, max_piece_len=4, top_multichar=64)


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-optimal subword segmentation of every corpus word under
    the seed vocabulary (datapipe/unigram.viterbi_segment — the
    SentencePiece encode): layered suffix-DP joins with exact integer
    costs and the longest-piece tiebreak.  The oracle finds the SAME
    optimum by brute-force boundary-mask enumeration (words are short;
    the mask integer's bit order makes min(cost, mask) equal the DP's
    greedy-longest rule) — a full value oracle for a dynamic program."""
    from flood_data_spark.datapipe.unigram import (
        seed_vocabulary, viterbi_segment, word_table)

    words = word_table(_t(spark, sf_dir, "documents"))
    vocab = seed_vocabulary(words, max_piece_len=4, top_multichar=64)
    seg = viterbi_segment(words, vocab, max_word_len=12,
                          max_piece_len=4)
    return seg.select("word",
                      F.size("pieces").alias("n_pieces"),
                      "total_cost_micro",
                      F.concat_ws(" ", "pieces").alias("pieces_str"))


def q_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM training round of the unigram tokenizer (datapipe/
    unigram.em_reestimate): Viterbi-segment the word table under the
    seed costs, recount piece usage weighted by word frequency (unused
    multi-char pieces prune, single chars keep a +1 coverage floor),
    re-derive micro costs.  The oracle recomputes the E-step by
    boundary-mask brute force and the M-step relationally — a FULL
    value oracle for an EM iteration."""
    from flood_data_spark.datapipe.unigram import (
        em_reestimate, seed_vocabulary, word_table)

    words = word_table(_t(spark, sf_dir, "documents"))
    vocab = seed_vocabulary(words, max_piece_len=4, top_multichar=64)
    return em_reestimate(words, vocab, max_word_len=12, max_piece_len=4)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value per type
    (operators/experiment.bootstrap_ci, 32 replicas): the resampling
    "randomness" is an md5-derived inverse-CDF Poisson(1) ladder per
    (replica, event_id), so the whole bootstrap is deterministic and
    carries a FULL value oracle — exact integer replica sums, exact
    percentile over the 32 replica means."""
    from flood_data_spark.operators.experiment import bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    return bootstrap_ci(ev, "value", "event_id", ("event_type",),
                        n_replicas=32, alpha=0.05)


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling exact median over the trailing 5 observations
    (operators/timeseries.with_rolling_median — the robust smoother):
    bounded sorted-array window, explicit lower+(upper−lower)·0.5
    interpolation mirrored expression-for-expression (floor()ed indices
    — a bare double→int cast truncates in Spark but rounds in ANSI
    engines).  Raw bit-identical doubles."""
    from flood_data_spark.operators.timeseries import with_rolling_median

    ev = (_t(spark, sf_dir, "events").filter(F.col("user_id") < 25)
          .select("event_id", "user_id", "ts", "value"))
    return with_rolling_median(ev, key_col="user_id", ts_col="ts",
                               value_col="value", window=5,
                               tiebreak_col="event_id")


def q_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (plans/scale.summarize_increment
    / merge_summaries): the lineitem halves are summarized SEPARATELY and
    the states merged — the oracle aggregates the union from scratch, so
    the gate proves merge(summary(A), summary(B)) == summary(A ∪ B) as
    exact values (micro-unit sums are order-free BIGINTs).  This is the
    no-history-rescan daily-pipeline contract."""
    from flood_data_spark.plans.scale import (
        merge_summaries, summarize_increment, summary_stats)

    li = _t(spark, sf_dir, "lineitem")
    a = summarize_increment(li.filter(F.col("l_orderkey") % 2 == 0),
                            ("l_returnflag",), "l_quantity")
    b = summarize_increment(li.filter(F.col("l_orderkey") % 2 == 1),
                            ("l_returnflag",), "l_quantity")
    return summary_stats(merge_summaries(a, b, ("l_returnflag",)))


def q_daily_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed incremental daily-operations pipeline END-TO-END
    (the reference's operational mode: re-issuing one day into a
    published multi-day store,
    databricks/glofas-forecast-computation.py:110-113 date folders +
    :306-321 publish): three issue days run through the E1 flagship
    (ensemble_threshold_summary, exact mode) and are PUBLISHED into a
    date-partitioned store via sources.parquet.upsert_partitions — day
    d2 first lands as a STALE issue (dis24 doubled) and is then
    RE-ISSUED, so the dynamic partition overwrite must replace exactly
    that partition and nothing else.  The running mergeable summary
    state (plans/scale.summarize_increment / merge_summaries) folds the
    d2 increment — read BACK from the store, partition-pruned to day=d2
    — into the d0+d1 base state; history is never rescanned.  The
    output carries BOTH paths tagged: 'incremental' (merged state) and
    'recompute' (from-scratch over the re-read store).  The oracle
    computes the ONE correct from-scratch summary straight from
    lineitem and emits it under both tags — three-way equality proves
    the upsert touched exactly day d2, d0/d1 survived two publishes
    untouched, and the merged state is bit-identical to a full
    recompute.  localCheckpoint materializes the bounded (cells × 2)
    result before the temp store is removed."""
    import shutil
    import tempfile

    from flood_data_spark.plans.scale import (
        merge_summaries, summarize_increment, summary_stats)
    from flood_data_spark.sources.parquet import upsert_partitions

    li = _t(spark, sf_dir, "lineitem")
    thresholds = _thresholds(spark, sf_dir)
    day = F.concat(F.lit("d"), (F.col("l_linenumber") % 3).cast("string"))
    fc = li.select(day.alias("day"),
                   F.col("l_partkey").alias("partkey"),
                   F.col("l_extendedprice").alias("dis24"))

    def detailed(day_label: str, scale: float = 1.0) -> DataFrame:
        f = (fc.filter(F.col("day") == day_label)
             .select("partkey", (F.col("dis24") * F.lit(scale))
                     .alias("dis24")))
        return ensemble_threshold_summary(
            f, thresholds, accuracy_mode="exact",
            join_keys=("partkey",), group_keys=("partkey",)) \
            .withColumn("day", F.lit(day_label))

    # the d0/d1 base days aggregate in ONE pass (grouping by (day,
    # partkey) over the disjoint day slices is value-identical to two
    # per-day runs) and publish as one dynamic-overwrite upsert; the
    # STALE d2 issue stays its own publish — the overwrite-exactness
    # story under test needs d2 written then replaced.  The two
    # publishes touch disjoint partitions of the store, so they run
    # OVERLAPPED from a 2-thread pool (guide §2.6: actions are only
    # sequential because the driver calls them sequentially): each
    # write job stages under its own .spark-staging-<jobId> and
    # commits only its own day= directories.
    base_days = ensemble_threshold_summary(
        fc.filter(F.col("day").isin("d0", "d1")),
        thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("day", "partkey"))

    store = _scratch_dir("daily_store_")
    try:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_base = pool.submit(upsert_partitions, base_days,
                                   store, "day")
            fut_stale = pool.submit(upsert_partitions,
                                    detailed("d2", scale=2.0),
                                    store, "day")
            fut_base.result()
            fut_stale.result()
        # running state as of d1 — reads only the d0/d1 partitions
        base = merge_summaries(
            summarize_increment(spark.read.parquet(store)
                                .filter(F.col("day") == "d0"),
                                ("partkey",), "median_dis"),
            summarize_increment(spark.read.parquet(store)
                                .filter(F.col("day") == "d1"),
                                ("partkey",), "median_dis"),
            ("partkey",))
        # the re-issue: dynamic overwrite replaces ONLY day=d2
        upsert_partitions(detailed("d2"), store, "day")
        inc = summarize_increment(
            spark.read.parquet(store).filter(F.col("day") == "d2"),
            ("partkey",), "median_dis")
        merged = summary_stats(merge_summaries(base, inc, ("partkey",)))
        recompute = summary_stats(summarize_increment(
            spark.read.parquet(store), ("partkey",), "median_dis"))
        out = (merged.withColumn("path", F.lit("incremental"))
               .unionByName(recompute.withColumn("path",
                                                 F.lit("recompute")))
               .select("path", "partkey", "n", "sum_micro",
                       "min_value", "max_value",
                       F.round("mean", 6).alias("mean")))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile of order totals vs Benford's law
    (operators/stats.benford_profile): 9-row aggregate, digit from the
    leading character of the micro-unit BIGINT, expected probabilities
    and chi-squared terms micro-rounded once — the fraud/synthetic-data
    tripwire as an exact-integer relation."""
    from flood_data_spark.operators.stats import benford_profile

    return benford_profile(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of quantity per return flag (operators/stats
    .gini_concentration): the closed rank formula over exact integer
    micro sums (one per-group sort exchange + a group-sized aggregate) —
    the inequality scalar a mixture/cap policy reads."""
    from flood_data_spark.operators.stats import gini_concentration

    return gini_concentration(_t(spark, sf_dir, "lineitem"),
                              "l_quantity", ("l_returnflag",))


def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution candidates (datapipe/fuzzy
    .snm_pairs, Hernández-Stolfo): distinct part names sorted within
    1-char prefix partitions, each compared to its next 4 sort
    neighbors via lead() projection columns (never an explode+self-join),
    length band + bounded levenshtein <= 3.  The OTHER classic blocker
    next to q_fuzzy_pairs' token blocking."""
    from flood_data_spark.datapipe.fuzzy import snm_pairs

    return snm_pairs(_t(spark, sf_dir, "part"), id_col="p_partkey",
                     text_col="p_name", window=4, max_dist=3)


def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group median imputation (datapipe/curation.impute_missing):
    values > 95 masked NULL, refilled with each event type's exact
    median (one percentile buffer, broadcast back — NULL rows never
    shuffle).  The quantile_cont bit-identity carries the value
    oracle."""
    from flood_data_spark.datapipe.curation import impute_missing

    ev = (_t(spark, sf_dir, "events").filter(F.col("user_id") < 150)
          .select("event_id", "event_type",
                  F.when(F.col("value") > 95, None)
                  .otherwise(F.col("value")).alias("v")))
    return (impute_missing(ev, "v", ("event_type",), strategy="median",
                           out_col="value_filled")
            .select("event_id", "event_type", "was_imputed",
                    "value_filled"))


def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-window Holt double-exponential smoothing per user
    (operators/timeseries.with_holt, α=0.5 β=0.25 window=8): the
    level+trend recursion as a bounded row-local struct fold.  RAW
    bit-identical doubles — the oracle folds [level, trend] pairs with
    the same operation order (the q_ewma no-rounding discipline)."""
    from flood_data_spark.operators.timeseries import with_holt

    ev = (_t(spark, sf_dir, "events").filter(F.col("user_id") < 25)
          .select("event_id", "user_id", "ts", "value"))
    return with_holt(ev, key_col="user_id", ts_col="ts",
                     value_col="value", alpha=0.5, beta=0.25, window=8,
                     tiebreak_col="event_id")


_PIP_POLY = [(0.1, 0.5), (0.5, 0.5), (0.5, 3.0), (0.2, 3.0),
             (0.2, 6.0), (0.5, 6.0), (0.5, 9.0), (0.1, 9.0)]


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-odd ray-casting containment of every synthetic grid cell
    center against a CONCAVE C-shaped basin outline (functions/geometry
    .point_in_polygon): the polygon is a literal comparison ladder —
    zero shuffle, zero joins, a free rider on the scan.  Full value
    oracle: every crossing term is mirrored literal double arithmetic."""
    from flood_data_spark.functions.geometry import point_in_polygon

    return (point_in_polygon(_grid_cells(spark, sf_dir),
                             "latitude", "longitude", _PIP_POLY)
            .select("partkey", "latitude", "longitude", "n_crossings",
                    "inside"))


# polygon RELATION for q_polygon_membership: the C-shape, a triangle
# (the one non-axis-aligned-edge case — real division in the crossing
# abscissa), and a square with a HOLE ring (even-odd over both rings of
# poly 3 subtracts the hole).  All within the sf0.01 grid's lon window.
_PM_RINGS = {
    (1, 0): _PIP_POLY,
    (2, 0): [(0.05, 0.2), (0.45, 0.2), (0.25, 2.2)],
    (3, 0): [(0.1, 4.0), (0.5, 4.0), (0.5, 7.0), (0.1, 7.0)],
    (3, 1): [(0.2, 5.0), (0.4, 5.0), (0.4, 6.0), (0.2, 6.0)],
}


def q_polygon_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-set membership of every synthetic grid cell center
    against a polygon RELATION (operators/serving.polygon_membership —
    VERDICT r15 #4, the general form of the reference's
    geometry.intersects serving filter, flood-api-examples.py:199-221):
    per-(poly, ring) edges off a window over the vertex rows, bucketed
    bbox candidate equi-join (never a BNLJ), even-odd crossing sum per
    (point, poly).  Concave outline + triangle + square-with-hole;
    full value oracle (the crossing arithmetic mirrored edge-row by
    edge-row in SQL)."""
    from flood_data_spark.operators.serving import polygon_membership

    polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PM_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    pts = _grid_cells(spark, sf_dir).select("partkey", "latitude",
                                            "longitude")
    return (polygon_membership(pts, polys, ring_col="ring_id")
            .orderBy("partkey", "poly_id"))


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the polygon relation
    (operators/serving.zonal_stats — round 16): per-basin
    min/max/exact-integer-mean of the cell field over
    [polygon_membership]'s candidate plan + ONE poly-bounded
    aggregate — the basin-aggregated discharge readout.  Full value
    oracle (membership SQL + the identical micro-integer finisher)."""
    from flood_data_spark.operators.serving import zonal_stats

    polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PM_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    pts = _grid_cells(spark, sf_dir)
    return zonal_stats(pts, polys, "val", ring_col="ring_id")


# polygon relation for q_polygon_area: the C-shape, the triangle, and a
# THREE-deep nest (outer square, hole, island-in-the-hole — even-odd
# depth 2 must flip the island back to additive).  The literal fixture
# is unioned with DATA-DERIVED rectangles (axis-aligned → always simple
# rings) grouped off the part table, so the gate exercises both a
# query-shaped and a corpus-shaped vertex relation.
_PA_RINGS = {
    (1, 0): _PIP_POLY,
    (2, 0): [(0.05, 0.2), (0.45, 0.2), (0.25, 2.2)],
    (3, 0): [(0.1, 4.0), (0.5, 4.0), (0.5, 7.0), (0.1, 7.0)],
    (3, 1): [(0.2, 5.0), (0.4, 5.0), (0.4, 6.0), (0.2, 6.0)],
    (3, 2): [(0.25, 5.3), (0.35, 5.3), (0.35, 5.7), (0.25, 5.7)],
}


def q_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact even-odd polygon area over a vertex-row RELATION
    (operators/serving.polygon_area — round 16, the geopandas ``.area``
    companion to the membership/zonal family): per-ring integer-micro
    shoelace, nesting depth from the integer ray-cast of each ring's
    min-struct vertex against its polygon's other rings (holes
    subtract, depth-2 islands add back, orientation-free).  Literal
    nested fixture + data-derived rectangles; full value oracle (the
    shoelace and depth arithmetic mirrored ring by ring)."""
    from flood_data_spark.operators.serving import polygon_area

    lit_polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PA_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    rect = (_t(spark, sf_dir, "part")
            .groupBy(((F.col("p_partkey") % 5).cast("int") + 10)
                     .alias("poly_id"))
            .agg((F.min(F.col("p_retailprice").cast("double")) / 1000)
                 .alias("_xlo"),
                 (F.max(F.col("p_retailprice").cast("double")) / 1000)
                 .alias("_xhi"),
                 F.min((F.col("p_partkey") % 89) * F.lit(0.07))
                 .alias("_ylo"),
                 F.max((F.col("p_partkey") % 89) * F.lit(0.07))
                 .alias("_yhi")))
    corners = [("_xlo", "_ylo"), ("_xhi", "_ylo"),
               ("_xhi", "_yhi"), ("_xlo", "_yhi")]
    verts = (rect.select(
        "poly_id", F.lit(0).alias("ring_id"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("vertex_idx"),
                     F.col(cx).alias("lon"), F.col(cy).alias("lat"))
            for i, (cx, cy) in enumerate(corners)])).alias("_v"))
        .select("poly_id", "ring_id", "_v.vertex_idx", "_v.lon",
                "_v.lat"))
    return polygon_area(lit_polys.unionByName(verts),
                        ring_col="ring_id")


def q_polygon_box_intersects(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TRUE closed-set cell×polygon ``intersects``
    (operators/serving.polygon_box_intersects — round 16, the full
    general form of the reference's geometry.intersects filter,
    flood-api-examples.py:199-221): every grid cell BOX (center
    ± half a cell) against the concave/triangle/holed polygon
    relation — exact integer orientation tests for edge crossings and
    collinear grazes (many cell edges lie exactly ON polygon edges
    here), integer center parity for containment.  Strict superset of
    [q_polygon_membership]'s center-in rows; full value oracle (all 16
    orientation terms mirrored column by column)."""
    from flood_data_spark.operators.serving import polygon_box_intersects

    polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PM_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    boxes = _grid_cells(spark, sf_dir).select(
        "partkey",
        (F.col("longitude") - 0.025).alias("lon_min"),
        (F.col("longitude") + 0.025).alias("lon_max"),
        (F.col("latitude") - 0.025).alias("lat_min"),
        (F.col("latitude") + 0.025).alias("lat_max"))
    return (polygon_box_intersects(boxes, polys, ring_col="ring_id",
                                   max_box_span=0.05)
            .orderBy("partkey", "poly_id"))


def q_zonal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AREA-WEIGHTED zonal statistics
    (operators/serving.zonal_stats_weighted — round 16): each grid
    cell BOX contributes to its basin proportionally to the covered
    fraction — every polygon ring clips against the cell box via 4
    relational Sutherland–Hodgman half-plane passes (window +
    conditional explode, zero UDFs), integer-micro shoelace closes the
    clipped ring, even-odd nesting signs subtract the hole, and the
    weighted mean is the exact decimal ratio Σq·w/Σw.  Nested fixture
    (C-shape + triangle + square-with-hole-with-island); full value
    oracle — all 4 clip stages mirrored CTE by CTE."""
    from flood_data_spark.operators.serving import zonal_stats_weighted

    polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PA_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    boxes = _grid_cells(spark, sf_dir).select(
        "partkey", "val",
        (F.col("longitude") - 0.025).alias("lon_min"),
        (F.col("longitude") + 0.025).alias("lon_max"),
        (F.col("latitude") - 0.025).alias("lat_min"),
        (F.col("latitude") + 0.025).alias("lat_max"))
    return zonal_stats_weighted(boxes, polys, "val",
                                ring_col="ring_id", max_box_span=0.05)


def q_membership_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 streaming geometry serving, driver-gated: the
    [q_polygon_membership] plan as a Structured Stream — grid cells
    arrive as a file stream, meet the STATIC broadcast polygon
    relation (windows/edges all on the static side), and the
    per-(point, poly) crossing aggregate runs in complete mode over a
    memory sink.  `row_id_col="partkey"` replaces
    monotonically_increasing_id (unavailable on streams).  The oracle
    IS the batch membership SQL — full stream/batch parity for the
    geometry family."""
    from flood_data_spark.operators.serving import polygon_membership

    polys = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PM_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")

    def build(stream):
        cells = stream.select(
            F.col("p_partkey").alias("partkey"),
            F.round(F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05, 3)
            .alias("latitude"),
            F.round(F.lit(0.025)
                    + (F.floor(F.col("p_partkey") / 200) % 200) * 0.05,
                    3).alias("longitude"))
        return polygon_membership(cells, polys, ring_col="ring_id",
                                  row_id_col="partkey")

    return _run_file_stream(spark, f"{sf_dir}/part.parquet", build,
                            "membership_stream_")


def q_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General GEOMETRY-SET join
    (operators/serving.polygon_polygon_intersects — round 16, the last
    arbitrary-geometry shape in the reference family): TRUE closed-set
    intersects between the nested literal polygon set (C-shape +
    triangle + square-with-hole-with-island) and DATA-DERIVED
    rectangles grouped off the part table — bucketed bbox candidate
    pairs, exact integer edge×edge orientation battery, even-odd
    rep-point containment both directions folded through ONE
    aggregate.  Full value oracle (both sides' edge/depth chains and
    all orientation terms mirrored)."""
    from flood_data_spark.operators.serving import (
        polygon_polygon_intersects)

    a = spark.createDataFrame(
        [(pid, rid, i, float(x), float(y))
         for (pid, rid), ring in sorted(_PA_RINGS.items())
         for i, (x, y) in enumerate(ring)],
        "poly_id int, ring_id int, vertex_idx int, lon double, "
        "lat double")
    g = F.col("p_partkey") % 5
    rect = (_t(spark, sf_dir, "part")
            .groupBy((g + 20).cast("int").alias("poly_id"))
            .agg(F.min(F.col("p_retailprice").cast("double"))
                 .alias("_mnv"),
                 F.max(F.col("p_retailprice").cast("double"))
                 .alias("_mxv"),
                 F.min((F.col("p_partkey") % (g + 13)) * F.lit(0.05))
                 .alias("_ylo"),
                 F.max((F.col("p_partkey") % (g + 13)) * F.lit(0.05))
                 .alias("_yhi"))
            .select("poly_id",
                    (F.col("_mnv")
                     / (F.lit(3000) + (F.col("poly_id") - 20) * 500))
                    .alias("_xlo"),
                    (F.col("_mxv")
                     / (F.lit(2000) + (F.col("poly_id") - 20) * 400))
                    .alias("_xhi"),
                    "_ylo", "_yhi"))
    corners = [("_xlo", "_ylo"), ("_xhi", "_ylo"),
               ("_xhi", "_yhi"), ("_xlo", "_yhi")]
    bverts = (rect.select(
        "poly_id", F.lit(0).alias("ring_id"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("vertex_idx"),
                     F.col(cx).alias("lon"), F.col(cy).alias("lat"))
            for i, (cx, cy) in enumerate(corners)])).alias("_v"))
        .select("poly_id", "ring_id", "_v.vertex_idx", "_v.lon",
                "_v.lat"))
    return polygon_polygon_intersects(a, bverts, ring_col="ring_id")


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (datapipe/text.textrank_keywords,
    Mihalcea & Tarau 2004): per-document PageRank over word
    co-occurrence graphs (window 2, damping 0.85), 3 iterations, top-5
    words per document for doc_id < 120.  Ranks live in integer
    micro-units with per-edge rounding, so all three ITERATIONS of this
    iterative algorithm unroll bit-exactly in the SQL oracle."""
    from flood_data_spark.datapipe.text import textrank_keywords

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return textrank_keywords(docs, window=2, n_iter=3, k=5)


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact functional-dependency discovery over four orders columns
    (operators/stats.fd_report — the TANE-level-1 / candidate-key
    primitive of a profiler): 12 ordered pairs, each with its exact
    violation count; o_orderkey → * is how a profiler finds the key it
    was never told about.  All-integer output."""
    from flood_data_spark.operators.stats import fd_report

    return fd_report(_t(spark, sf_dir, "orders"),
                     ("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_orderpriority"))


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query nDCG@10 of the exact-cosine retriever against
    label-match relevance (datapipe/similarity.ndcg_at_k) — the
    position-discounted twin of q_ir_metrics on the SAME fixture.
    1/log2 gains micro-rounded once, DCG/IDCG exact BIGINT sums."""
    from flood_data_spark.datapipe.similarity import (
        cosine_topk_bruteforce, ndcg_at_k)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    ranked = cosine_topk_bruteforce(emb, queries, k=10)
    relevant = (queries.select(F.col("vec_id").alias("query_id"),
                               F.col("label").alias("_ql"))
                .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                                 F.col("label").alias("_nl")),
                      F.col("_ql") == F.col("_nl"))
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id"))
    return ndcg_at_k(ranked, relevant, k=10)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketches (k=256) of the part sets bought on even- vs
    odd-keyed orders + the cross-corpus Jaccard estimate (datapipe/
    sketches.kmv_sketch/kmv_distinct_estimate/kmv_jaccard — Beyer et al.
    2007).  The md5-derived 52-bit hashes make every estimate a pure
    function of the key sets, so this is a FULL value oracle of a
    sketch estimator."""
    from flood_data_spark.datapipe.sketches import (
        kmv_distinct_estimate, kmv_jaccard, kmv_sketch)

    li = _t(spark, sf_dir, "lineitem")
    a = kmv_sketch(li.filter(F.col("l_orderkey") % 2 == 0),
                   "l_partkey", k=256)
    b = kmv_sketch(li.filter(F.col("l_orderkey") % 2 == 1),
                   "l_partkey", k=256)
    a = a.localCheckpoint()     # each sketch feeds two consumers
    b = b.localCheckpoint()
    ea = (kmv_distinct_estimate(a, 256)
          .select(F.col("n_kept").alias("n_a"),
                  F.col("est_distinct").alias("est_a")))
    eb = (kmv_distinct_estimate(b, 256)
          .select(F.col("n_kept").alias("n_b"),
                  F.col("est_distinct").alias("est_b")))
    return ea.crossJoin(eb).crossJoin(kmv_jaccard(a, b, 256))


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual-NN bitext mining between the even- and odd-id
    embedding halves (datapipe/similarity.mine_bitext — the Artetxe &
    Schwenk 2019 ratio margin that LASER/CCMatrix/NLLB mine parallel
    corpora with, k=4 neighborhood): cosines in integer micro-units,
    exact k-NN sums, fixed double margin tree."""
    from flood_data_spark.datapipe.similarity import mine_bitext

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return mine_bitext(src, tgt, k=4, mutual=True)


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the customer↔part implicit
    matrix (datapipe/recommend — Sarwar 2001 / Amazon item-to-item):
    basket-capped user self-join (max_basket=40, lowest-item-id
    truncation), pair counts >= 3, cosine over binary vectors from exact
    integer counts, top-5 per item with the (cosine DESC, neighbor ASC)
    tiebreak."""
    from flood_data_spark.datapipe.recommend import (
        item_similarity, item_topk)

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inter = orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
    sim = item_similarity(inter, "o_custkey", "l_partkey",
                          max_basket=40, min_count=3)
    return item_topk(sim, k=5)


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each event type's daily-mean series at
    lags 1..7 (operators/stats.acf — the Box-Jenkins seasonality probe).
    The daily mean is a division of exact integer micro sums; the five
    ACF moment sums are exact BIGINTs; the correlation is one fixed
    DOUBLE expression tree over them, round(…, 6)."""
    from flood_data_spark.operators.stats import acf

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg((F.sum(F.round(F.col("value") * 1000000).cast("long"))
                   .cast("double") / F.count(F.lit(1)) / 1000000)
                  .alias("daily_mean")))
    return acf(daily, "daily_mean", "day", ("event_type",), max_lag=7)


def q_tree_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump induction (datapipe/classifier
    .best_split, per_feature=True): each feature's lowest-weighted-Gini
    equi-depth-boundary split for the l_returnflag='R' label — the
    LightGBM/XGBoost-hist inner loop as two scans + candidate-sized
    aggregates.  Counts exact; Gini micro-rounded once; thresholds are
    the raw percentile doubles (the q_equidepth boundary contract)."""
    from flood_data_spark.datapipe.classifier import best_split

    li = (_t(spark, sf_dir, "lineitem")
          .withColumn("is_return",
                      (F.col("l_returnflag") == "R").cast("int")))
    return best_split(li, ("l_quantity", "l_extendedprice", "l_discount"),
                      "is_return", n_buckets=8, per_feature=True)


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of (o_orderpriority, o_orderstatus)
    by o_totalprice (datapipe/features.target_encoding, smoothing=20) —
    the CatBoost/Kaggle encoder as ONE category-sized aggregate; target
    mass accumulates in integer micro-units so `enc` is a division of
    exact integers (engine-bit-identical)."""
    from flood_data_spark.datapipe.features import target_encoding

    return target_encoding(_t(spark, sf_dir, "orders"),
                           ("o_orderpriority", "o_orderstatus"),
                           "o_totalprice", smoothing=20.0)


def q_loo_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of l_returnflag by l_quantity over
    the l_orderkey < 800 slice (datapipe/features.loo_encoding): the
    leakage-hardened per-row variant — category sums broadcast back and
    the row's own label removed ARITHMETICALLY ((sum-y)/(n-1)), never via
    a corpus-wide category window."""
    from flood_data_spark.datapipe.features import loo_encoding

    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 800))
    return (loo_encoding(li, ("l_returnflag",), "l_quantity")
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    "l_quantity", "loo"))


def q_woe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information value of document `source` for
    the binary label lang='en' (datapipe/features.woe_encoding,
    laplace=0.5) — the credit-scoring encoder; ln rounded ONCE to integer
    micro-nats (bayes.py discipline), counts exact."""
    from flood_data_spark.datapipe.features import woe_encoding

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("is_en", (F.col("lang") == "en").cast("int")))
    return woe_encoding(docs, ("source",), "is_en", laplace=0.5)


def _co_part_edges(spark: SparkSession, sf_dir: str,
                   order_cap: int = 4000) -> DataFrame:
    """One-mode projection of the order↔part bipartite relation: parts
    co-appearing in an order (l_orderkey < order_cap) become an
    undirected edge — the standard co-purchase graph construction, and
    (unlike the near-complete supplier projection or the bipartite
    customer↔supplier graph) it is sparse AND triangle-rich at every SF
    (sf0.01: 2k nodes / 31k edges / 45k triangles).  Distinct canonical
    pairs (pa < pb)."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < order_cap)
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("s")))
    a = li.select("ok", F.col("s").alias("src"))
    b = li.select(F.col("ok").alias("ok2"), F.col("s").alias("dst"))
    return (a.join(b, a["ok"] == b["ok2"])
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst").distinct())


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    part co-purchase graph (datapipe/graph.triangle_counts) — the
    degree-orientation plan (wedge fan-out bounded by m^1.5, each
    triangle found exactly once at its lowest-(degree, id) corner).
    All-integer arithmetic; lcc is one round-6 division — full value
    oracle."""
    from flood_data_spark.datapipe.graph import triangle_counts

    return triangle_counts(_co_part_edges(spark, sf_dir))


def q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph
    (datapipe/graph.adamic_adar): distance-2 non-adjacent pairs scored by
    Σ 1/ln(deg(z)) over shared neighbors — held in INTEGER micro-units
    (each center's weight rounded to a BIGINT once, pair scores as exact
    integer sums), so the gate value-hashes despite the irrational
    per-center weights.  max_degree=60 exercises the hub cap; top 50 by
    (aa_mu DESC, a, b) — a deterministic total order."""
    from flood_data_spark.datapipe.graph import adamic_adar

    return adamic_adar(_co_part_edges(spark, sf_dir),
                       max_degree=60, top_k=50)


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (datapipe/graph.bfs_distances) over the
    customer↔supplier co-order graph (q_pagerank's relation): hop
    distance from the customers with c_custkey < 5, 3 hops unrolled.
    Integer distances, frontier-only expansion, one edge-sized shuffle
    per hop — the relational Pregel plan.  Full value oracle (3-hop SQL
    unroll)."""
    from flood_data_spark.datapipe.graph import bfs_distances

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    li = _t(spark, sf_dir, "lineitem")
    pairs = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("c"),
                     (F.col("l_suppkey") + 1_000_000).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionByName(pairs.select(F.col("s").alias("src"),
                                       F.col("c").alias("dst"))))
    sources = (pairs.filter(F.col("c") < 5)
               .select(F.col("c").alias("node")).distinct())
    return bfs_distances(edges, sources, max_hops=3)


def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID end to end
    (datapipe/bayes.naive_bayes_train/_score): the model is two
    vocabulary-bounded count aggregates (zero GD iterations — the
    counting counterpart of q_quality_clf), scores are exact INTEGER
    micro-log-unit sums, prediction a deterministic argmax.  Trained on
    the full documents table with lang as the class; docs < 150 scored
    against every class.  Full value oracle — the only transcendental
    (ln of the smoothed ratio) is rounded once to integer micro-units,
    after which both engines do pure integer arithmetic."""
    from flood_data_spark.datapipe.bayes import (
        naive_bayes_score, naive_bayes_train)

    docs = _t(spark, sf_dir, "documents")
    terms, classes = naive_bayes_train(docs, label_col="lang")
    return naive_bayes_score(docs.filter(F.col("doc_id") < 150)
                             .select("doc_id", "text"), terms, classes)


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection (datapipe/bayes.chi2_terms): rank
    vocabulary terms by dependence between document-level presence and
    the (lang = 'en') label — the selection step ahead of classifier
    training.  2×2 tables are exact integer document frequencies; the
    statistic is ONE fixed-operand-order double expression rounded to 6
    decimals, and the top-40 ORDER BY uses the rounded value, so rank
    and values both hash across engines."""
    from flood_data_spark.datapipe.bayes import chi2_terms

    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", F.when(F.col("lang") == "en", 1).otherwise(0))
    return chi2_terms(docs, top_k=40)


def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-purchase per cohort
    (operators/experiment.km_survival): per user, duration = whole hours
    from first event to first purchase (event=1) or to last observed
    event (censored, event=0); cohorts = user_id % 3.  Risk sets are
    integer window cumsums; the survival curve is a sequential per-group
    fold rounded to 6 decimals at every step (the EWMA/list_reduce
    discipline), so the whole curve value-hashes across engines."""
    from flood_data_spark.operators.experiment import km_survival

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("tp"),
        F.max("ts").alias("tl"))
    subjects = per_user.select(
        (F.col("user_id") % 3).alias("cohort"),
        F.expr("(unix_micros(coalesce(tp, tl)) - unix_micros(t0))"
               " div 3600000000").alias("duration"),
        F.col("tp").isNotNull().cast("int").alias("event"))
    return km_survival(subjects)


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (operators/experiment.two_proportion_ztest)
    on a synthetic experiment: variant = user parity, success = the user
    ever made a purchase with value > 95.  Counts are exact integers;
    p's/lift/z are one fixed-operand-order expression rounded once —
    full value oracle."""
    from flood_data_spark.operators.experiment import two_proportion_ztest

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when((F.col("event_type") == "purchase")
                     & (F.col("value") > 95), 1)
              .otherwise(0)).alias("success"))
    experiment = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
        .alias("variant"), "success")
    return two_proportion_ztest(experiment)


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over brand baskets
    (datapipe/market.association_rules): each order's distinct part
    brands form a basket; Apriori-pruned frequent pairs (min_support
    0.02) become directional rules filtered at confidence 0.145.  Counts
    are exact integers; support/confidence/lift are fixed-operand-order
    divisions rounded once — full value oracle."""
    from flood_data_spark.datapipe.market import association_rules

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    baskets = (li.join(part, li["l_partkey"] == part["p_partkey"])
               .select(F.col("l_orderkey").alias("basket_id"),
                       F.col("p_brand").alias("item")))
    return association_rules(baskets, min_support=0.02,
                             min_confidence=0.145)


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + marginal entropies between document language
    and source (datapipe/bayes.mutual_information), in integer
    micro-nats: each contingency cell's p·ln(p/(pq)) term is rounded
    once to a BIGINT and the totals are exact integer sums (order-free
    across engines).  Contingency-table-sized plan; the corpus scans
    once."""
    from flood_data_spark.datapipe.bayes import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"),
                              "lang", "source")


def _hydro_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared simulated-vs-observed discharge relation for the
    hydrological efficiency gates: sim = l_quantity, obs a part-keyed
    series on the same 1..50 scale, grouped by order priority (the
    'lead time').  ONE definition so q_nse and q_kge cannot desync
    from their oracles' identical FROM clause."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(F.col("o_orderpriority").alias("lead"),
                    F.col("l_quantity").alias("sim"),
                    ((F.col("l_partkey") % 47)
                     + F.col("l_quantity") * F.lit(0.5)
                     + F.lit(1.0)).alias("obs")))


def q_nse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nash–Sutcliffe efficiency per lead
    (operators/verification.nse_score): both series quantized once to
    integer micros, the score the single exact integer ratio
    (D − n·SSE)/D with D = n·Σqo² − (Σqo)², rounded half-up in integer
    space.  One exchange of four map-side-combined sums.  Full value
    oracle restating the identity in HUGEINT."""
    from flood_data_spark.operators.verification import nse_score

    return nse_score(_hydro_src(spark, sf_dir), "sim", "obs", ["lead"])


def q_kge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kling–Gupta efficiency per lead
    (operators/verification.kge_score): six integer-micro sums in one
    exchange; r via the ACC sqrt-quantize recipe, α the ratio of the
    same two quantized sqrts, β = Σqs/Σqo exact; the final Euclidean
    distance squares exact micros with ONE last sqrt seam.  Full value
    oracle mirroring all five seams."""
    from flood_data_spark.operators.verification import kge_score

    return kge_score(_hydro_src(spark, sf_dir), "sim", "obs", ["lead"])


def q_gumbel_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel L-moment fit + T-year return levels per cell
    (operators/extremes.gumbel_return_levels) over an annual-maximum
    series (per-cell yearly max of scaled extendedprice): ONE
    cell-partitioned rank window, two exact integer sums, λ1/λ2 closed
    in integer space, then the three textual-literal IEEE seams
    (1/ln2, Euler γ, the per-period Gumbel variate) each quantized
    floor(+0.5).  This is how the reference's own 2y/5y/20y threshold
    bands are manufactured.  Full value oracle restating the rank
    window, both L-moments, and every seam with identical repr
    literals."""
    from flood_data_spark.operators.extremes import gumbel_return_levels

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("cell"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am")))
    return gumbel_return_levels(ams, "am", ["cell"],
                                periods=(2, 5, 20, 100))


def _pot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared POT declustering relation (threshold 150, gap 4e10 µs ≈
    11 h) — one definition for the cluster gate and the GPD fit so the
    two cannot desync from the oracles' identical CTE chain."""
    from flood_data_spark.operators.extremes import pot_decluster

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 8).alias("cell"),
        F.unix_micros(F.col("ts")).alias("o"),
        F.col("value"))
    return pot_decluster(ev, "value", "o", ["cell"], 150.0,
                         40_000_000_000)


def q_pot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold runs declustering
    (operators/extremes.pot_decluster): exceedances of 150 per user
    cell, gaps-and-islands on µs epochs with an 11 h separation — lag
    → boundary flag → running sum = cluster id, all on ONE cell-keyed
    exchange.  Full value oracle (peak/size/span per cluster)."""
    return _pot_clusters(spark, sf_dir)


def q_pot_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPD tail fit of the declustered POT peaks
    (operators/extremes.gpd_moment_fit): method-of-moments ξ̂/σ̂ as
    EXACT integer ratios of n-cleared moments — zero IEEE seams.  Full
    value oracle restating the whole decluster → excess-moments
    chain."""
    from flood_data_spark.operators.extremes import gpd_moment_fit

    return gpd_moment_fit(_pot_clusters(spark, sf_dir), "peak",
                          ["cell"], 150.0)


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope per cell
    (operators/stats.mann_kendall_sen) over a monthly-maximum series:
    the pair relation is series-bounded (months², independent of
    corpus size), S and the tie spectrum exact integer sums, ONE sqrt
    seam for Var(S), Z and the rank-picked median slope closed in
    integer space.  Full value oracle restating the pairwise join,
    tie correction, and both integer finishes."""
    from flood_data_spark.operators.stats import mann_kendall_sen

    li = _t(spark, sf_dir, "lineitem")
    series = (li.groupBy(
        (F.col("l_suppkey") % 10).alias("cell"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("t"))
        .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
             .alias("x")))
    return mann_kendall_sen(series, "x", "t", ["cell"])


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov per cell
    (operators/stats.ks_two_sample): click-vs-error value
    distributions — D's numerator max|c_a·n_b − c_b·n_a| is ENTIRELY
    integer (values grouped, never arithmetic'd; no quantization
    anywhere), with one critical-value sqrt seam.  Ties collapse to
    distinct-value cells before the cumulative window — the correct
    ECDF treatment.  Full value oracle."""
    from flood_data_spark.operators.stats import ks_two_sample

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 6).alias("cell"), "event_type", "value")
    return ks_two_sample(ev, "value", "event_type", "click", "error",
                         ["cell"])


def q_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU per language (datapipe/text.bleu_corpus): candidate
    = the first 80 % of each document's tokens + one planted
    out-of-reference token, reference = the full document — exercises
    clipped precisions < 1 at every order AND the brevity-penalty
    branch (candidates strictly shorter).  p_n exact integer micros;
    ln/exp/BP are five bounded quantized seams.  Full value oracle
    restating the truncation, the (id, n, gram) join, and every
    seam."""
    from flood_data_spark.datapipe.text import bleu_corpus

    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 1500)
                    & (F.length(F.trim("text")) > 0)))
    w = F.split(F.lower(F.regexp_replace(
        F.trim(F.col("text")), r"\s+", " ")), " ")
    t1 = (docs.select("doc_id", "lang", w.alias("w"))
          .withColumn("k", F.greatest(
              F.floor(F.size("w") * F.lit(0.8)), F.lit(1))
              .cast("int")))
    cand = t1.select(
        "doc_id", "lang",
        F.concat(F.concat_ws(" ", F.expr("slice(w, 1, k)")),
                 F.lit(" zqx")).alias("text"))
    ref = docs.select("doc_id", "text")
    return bleu_corpus(cand, ref, group_keys=["lang"])


def q_drought_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-theory drought analysis
    (operators/extremes.drought_runs): consecutive days whose daily
    minimum sits below 0.8 form runs (step 1 — a missing day breaks
    the run); duration/severity/intensity per run with deficits as
    exact integer micros and intensity closed in integer space.  Full
    value oracle (the POT islands chain on the deficit side)."""
    from flood_data_spark.operators.extremes import drought_runs

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.col("user_id") % 6).alias("cell"),
        F.datediff(F.to_date("ts"),
                   F.lit("2024-01-01").cast("date")).alias("d"))
        .agg(F.min("value").alias("v")))
    return drought_runs(daily, "v", "d", ["cell"], 0.8, step=1)


def q_lmoments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moment ratio diagram coordinates per cell
    (operators/extremes.lmoment_ratios) on the AMS relation: four PWM
    integer sums off one rank window, every ratio an exact
    factorial-cancelled integer division — zero seams.  Full value
    oracle."""
    from flood_data_spark.operators.extremes import lmoment_ratios

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("cell"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am")))
    return lmoment_ratios(ams, "am", ["cell"])


def q_gev_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEV L-moment fit + return levels per cell
    (operators/extremes.gev_return_levels) on the q_gumbel_return AMS
    relation: three PWMs off one rank window, t3 an EXACT integer
    ratio (the n-cleared denominators cancel), then the bounded seam
    chain c → κ → Γ(1+κ) (SHARED A&S polynomial — engine-native
    gamma() is not bit-portable) → σ → ξ → levels, every seam
    quantized once and every power rewritten exp/ln with repr
    literals.  Full value oracle restating the identical IEEE
    strings."""
    from flood_data_spark.operators.extremes import gev_return_levels

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("cell"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am")))
    return gev_return_levels(ams, "am", ["cell"], periods=(10, 100))


def q_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence-benchmark skill per cell
    (operators/verification.persistence_skill) on the shared daily
    hydrograph with a deterministic affine 'forecast': SS_p one exact
    integer ratio (zero seams), Theil's U2 one sqrt seam on the exact
    micro ratio.  Full value oracle."""
    from flood_data_spark.operators.verification import persistence_skill

    dh = _daily_hydrograph(spark, sf_dir)
    src = dh.select("cell", "day",
                    (F.col("inflow") * F.lit(0.9) + F.lit(5.0))
                    .alias("sim"),
                    F.col("inflow").alias("obs"))
    return persistence_skill(src, "sim", "obs", "day", ["cell"])


def q_ffa_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed flood-frequency QQ pipeline
    (operators/extremes.frequency_qq): the Gringorten empirical
    positions joined against the Gumbel L-moment fit, the fitted
    quantile evaluated AT each plotting position with one per-row
    variate seam, residuals closed in integer space — the
    goodness-of-fit table before a threshold band ships.  Full value
    oracle composing the two chains."""
    from flood_data_spark.operators.extremes import frequency_qq

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("cell"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am")))
    return frequency_qq(ams, "am", ["cell"], "gringorten")


def q_std_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized anomaly vs the ±1-day circular climatology
    (operators/extremes.standardized_anomaly): μ integer-closed, σ
    via the n-cleared sqrt seam, z an exact integer ratio per
    observation; the climatology relation broadcasts back.  Full
    value oracle."""
    from flood_data_spark.operators.extremes import standardized_anomaly

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).alias("cell"), "ts", "value")
    return standardized_anomaly(ev, "value", "ts", ["cell"], window=1)


def q_low_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAM5 low-flow statistic per cell
    (operators/extremes.low_flow_mam) on the shared daily hydrograph:
    5-day moving means as exact integer ratios over a RANGE frame
    (complete windows only), the minimum picked among engine-identical
    integers.  Full value oracle."""
    from flood_data_spark.operators.extremes import low_flow_mam

    return low_flow_mam(_daily_hydrograph(spark, sf_dir), "inflow",
                        "day", ["cell"], window=5)


def q_flashiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richards-Baker flashiness per cell
    (operators/routing.flashiness_index) on the shared daily
    hydrograph: path length over volume as ONE exact integer ratio —
    zero seams.  Full value oracle."""
    from flood_data_spark.operators.routing import flashiness_index

    return flashiness_index(_daily_hydrograph(spark, sf_dir),
                            "inflow", "day", ["cell"])


def q_plotting_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gringorten plotting positions + empirical return periods
    (operators/extremes.plotting_positions) over the q_gumbel_return
    AMS relation — the decimals clear by 100, so p and T are exact
    integer ratios with ZERO seams.  Full value oracle."""
    from flood_data_spark.operators.extremes import plotting_positions

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("cell"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am")))
    return plotting_positions(ams, "am", ["cell"], "gringorten")


def q_error_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic error battery per lead
    (operators/verification.error_summary) on the shared hydro
    relation: ME/MAE/PBIAS exact integer ratios, RMSE's mean-square
    integer-closed with one sqrt seam.  Full value oracle."""
    from flood_data_spark.operators.verification import error_summary

    return error_summary(_hydro_src(spark, sf_dir), "sim", "obs",
                         ["lead"])


def q_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (datapipe/text.chrf) over the BLEU pairing (truncated
    candidate + planted token vs full reference): per-order F_β
    collapses to the single exact ratio (1+β²)c/(β²b+a), so the whole
    score is integer arithmetic — ZERO seams.  Full value oracle."""
    from flood_data_spark.datapipe.text import chrf

    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 400)
                    & (F.length(F.trim("text")) > 0)))
    w = F.split(F.lower(F.regexp_replace(
        F.trim(F.col("text")), r"\s+", " ")), " ")
    t1 = (docs.select("doc_id", w.alias("w"))
          .withColumn("k", F.greatest(
              F.floor(F.size("w") * F.lit(0.8)), F.lit(1))
              .cast("int")))
    cand = t1.select(
        "doc_id",
        F.concat(F.concat_ws(" ", F.expr("slice(w, 1, k)")),
                 F.lit(" zqx")).alias("text"))
    ref = docs.select("doc_id", "text")
    return chrf(cand, ref)


def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate (operators/experiment.srm_check):
    one deliberately mis-allocated experiment (60/40 under a 50/50
    design) among balanced ones — exact counts, one textual z seam,
    the |z| ≥ 3 flag an integer compare.  Full value oracle."""
    from flood_data_spark.operators.experiment import srm_check

    o = _t(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.when(F.col("o_custkey") % 10
               < F.when(F.col("o_orderpriority") == "1-URGENT",
                        F.lit(6)).otherwise(F.lit(5)),
               F.lit("A")).otherwise(F.lit("B")).alias("variant"))
    return srm_check(src, "variant", ["priority"])


def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag
    (operators/experiment.winsorized_mean): exact percentile caps
    (percentile == quantile_cont bit-for-bit), engine-identical
    clamps, the mean an exact integer-micro ratio.  Full value
    oracle."""
    from flood_data_spark.operators.experiment import winsorized_mean

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"))
    return winsorized_mean(li, "v", ["flag"], lower=0.05, upper=0.95)


def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis
    (operators/stats.hurst_rs): each cell's event-value series indexed
    by a deterministic row_number, R/S per block at sizes 16/64/256 —
    deviations m-cleared to exact integers, ONE sqrt seam per block,
    R/S and the per-size means in integer space, ln(m) a driver-side
    integer literal, the final log-log OLS slope one exact integer
    ratio.  Full value oracle restating the entire ladder."""
    from flood_data_spark.operators.stats import hurst_rs

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("cell"), "ts", "event_id",
        "value")
    w = Window.partitionBy("cell").orderBy("ts", "event_id")
    src = ev.withColumn("t", F.row_number().over(w) - F.lit(1))
    return hurst_rs(src, "value", "t", ["cell"], (16, 64, 256))


def _daily_hydrograph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared daily-max hydrograph per cell — ONE definition for the
    two recursive-seam gates (Muskingum, baseflow) so their oracles'
    identical src CTE cannot desync."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(
        (F.col("user_id") % 5).alias("cell"),
        F.datediff(F.to_date("ts"),
                   F.lit("2024-01-01").cast("date")).alias("day"))
        .agg(F.max("value").alias("inflow")))


def q_muskingum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Muskingum channel routing (operators/routing.muskingum_route):
    each cell's daily-max hydrograph routed through the K=20 h, x=0.2,
    Δt=24 h storage recurrence — the package's custom-stateful
    applyInPandas seam, yet still FULLY value-oracled: the DuckDB twin
    is a recursive CTE walking the identical left-associated IEEE
    tree, so raw doubles hash-match with no rounding seam at all."""
    from flood_data_spark.operators.routing import muskingum_route

    return muskingum_route(_daily_hydrograph(spark, sf_dir), "inflow",
                           "day", ["cell"], k=20.0, x=0.2, dt=24.0)


def q_baseflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lyne-Hollick baseflow separation + BFI per cell
    (operators/routing.baseflow_separate): the CLAMPED recursion
    through the same applyInPandas seam (filtered quickflow f_t, then
    baseflow = max(q − max(f, 0), 0)), finished by the Baseflow Index
    Σb/Σq as an exact integer-micro ratio.  The oracle walks the
    recursion as a recursive CTE with greatest() clamps — raw-double
    parity through the filter, integer-space parity for the index."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up
    from flood_data_spark.operators.routing import baseflow_separate

    routed = baseflow_separate(_daily_hydrograph(spark, sf_dir),
                               "inflow", "day", ["cell"], alpha=0.925)
    dec = "decimal(38,0)"

    def q6(col):
        c = F.col(col)
        return (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                      + F.lit(0.5))).cast(dec)

    agg = (routed.select("cell", q6("baseflow").alias("_qb"),
                         q6("flow").alias("_qq"))
           .groupBy("cell")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_qb").alias("_sb"), F.sum("_qq").alias("_sq")))
    bfi = F.when(
        F.col("_sq") > 0,
        _idiv_half_up(F.col("_sb") * F.lit(1_000_000).cast(dec),
                      F.col("_sq")).cast("double") / F.lit(1e6))
    return agg.select("cell", "n", bfi.alias("bfi")).orderBy("cell")


def q_doy_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-year climatology percentile bands
    (operators/extremes.doy_climatology): ±2-day circular smoothing
    window (the offset explode is 5-bounded), exact interpolated
    percentiles per (cell, doy) — Spark `percentile` == quantile_cont
    bit-for-bit, so values pass through with NO quantization.  Full
    value oracle restating the circular wheel and the quantiles."""
    from flood_data_spark.operators.extremes import doy_climatology

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("cell"), "ts", "value")
    return doy_climatology(ev, "value", "ts", ["cell"],
                           percentiles=(0.25, 0.5, 0.75), window=2)


def q_nse_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED hydrological-efficiency monitor
    (streaming/file_stream.nse_sum_stream + the SAME
    verification.nse_from_sums finisher as batch q_nse): lineitem as
    the file stream, orders the static broadcast side, the four
    integer sums aggregating in complete mode (state = one cell per
    lead), finisher on the materialized cells.  The oracle IS the
    batch SQL: stream/batch parity of the whole score."""
    from flood_data_spark.operators.verification import nse_from_sums
    from flood_data_spark.streaming.file_stream import nse_sum_stream

    orders = _t(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")

    def build(stream):
        src = (stream.join(F.broadcast(orders),
                           stream["l_orderkey"] == orders["o_orderkey"])
               .select(F.col("o_orderpriority").alias("lead"),
                       F.col("l_quantity").alias("sim"),
                       ((F.col("l_partkey") % 47)
                        + F.col("l_quantity") * F.lit(0.5)
                        + F.lit(1.0)).alias("obs")))
        return nse_sum_stream(src, "sim", "obs", ["lead"])

    cells = _run_file_stream(spark, f"{sf_dir}/lineitem.parquet",
                             build, "stream_nse_",
                             output_mode="complete")
    return nse_from_sums(cells)


def q_kge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED KGE monitor (streaming/file_stream.kge_sum_stream +
    the SAME verification.kge_from_sums finisher as batch q_kge):
    complete-mode six-sum state per lead, finisher on the
    materialized cells.  The oracle IS the batch SQL: stream/batch
    parity of the whole (r, alpha, beta, KGE) decomposition."""
    from flood_data_spark.operators.verification import kge_from_sums
    from flood_data_spark.streaming.file_stream import kge_sum_stream

    orders = _t(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")

    def build(stream):
        src = (stream.join(F.broadcast(orders),
                           stream["l_orderkey"] == orders["o_orderkey"])
               .select(F.col("o_orderpriority").alias("lead"),
                       F.col("l_quantity").alias("sim"),
                       ((F.col("l_partkey") % 47)
                        + F.col("l_quantity") * F.lit(0.5)
                        + F.lit(1.0)).alias("obs")))
        return kge_sum_stream(src, "sim", "obs", ["lead"])

    cells = _run_file_stream(spark, f"{sf_dir}/lineitem.parquet",
                             build, "stream_kge_",
                             output_mode="complete")
    return kge_from_sums(cells)


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation
    (operators/serving.idw_interpolate): the q_radius_join geometry
    (grid cells as stations, nation points as queries, 30 km radius)
    finished by the exact-integer Shepard aggregate — weights
    1e18/d²q, interpolant Σw·v/Σw, zero derived-double rounding.  The
    bucket prune is lossless, so the oracle is the brute-force cross
    join + identical haversine + the same integer chain."""
    from flood_data_spark.operators.serving import idw_interpolate

    points = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") * 0.25 + 0.01).alias("latitude"),
        ((F.col("n_nationkey") % 3) * 0.15 + 0.02).alias("longitude"),
        F.col("n_nationkey").alias("point_id"))
    out = idw_interpolate(_grid_cells(spark, sf_dir), points, "val",
                          radius_km=30.0)
    return out.select(F.col("query_point_id").alias("point_id"),
                      "n_stations", "idw")


def q_spi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical SPI per cell (operators/extremes.spi_empirical):
    daily maxima as the accumulation sample, Gringorten positions as
    exact integer ratios, the probit ONE shared Acklam rational seam
    (functions/distributions.invnorm_sql — identical text in both
    engines).  Full value oracle."""
    from flood_data_spark.operators.extremes import spi_empirical

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 6).alias("cell"),
        F.dayofmonth("ts").alias("day"), "value")
    daily = ev.groupBy("cell", "day").agg(F.max("value").alias("precip"))
    return spi_empirical(daily, "precip", ["cell"], "day")


def q_regional_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosking-Wallis index-flood regional frequency analysis
    (operators/extremes.regional_growth_curve): 12 sites in 4 regions,
    record-length-weighted regional L-moment ratios (exact integer),
    ONE regional GEV growth curve per region via the shared seam
    chain, at-site levels = index flood x growth.  Full value
    oracle restating the site PWMs, the weighted pooling, and every
    seam."""
    from flood_data_spark.operators.extremes import (
        regional_growth_curve)

    li = _t(spark, sf_dir, "lineitem")
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("site"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                .alias("am"))
           .withColumn("region", F.col("site") % 4))
    return regional_growth_curve(ams, "am", ["region"], "site",
                                 periods=(10, 100))


def q_fss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractions Skill Score (operators/verification.fss) on a dense
    40x40 binary exceedance grid per return flag, radius 2: the
    separable two-pass RANGE-window box sums, fractions and FSS as
    exact integer ratios — ZERO double seams.  Full value oracle
    restating both window passes."""
    from flood_data_spark.operators.verification import fss

    li = _t(spark, sf_dir, "lineitem")
    grid = (li.groupBy(F.col("l_returnflag").alias("flag"),
                       (F.col("l_partkey") % 40).alias("i"),
                       (F.col("l_suppkey") % 40).alias("j"))
            .agg(F.max("l_quantity").alias("mq"),
                 F.max("l_extendedprice").alias("mp")))
    grid = grid.select(
        "flag", "i", "j",
        (F.col("mq") >= 48).cast("int").alias("fc"),
        (F.col("mp") >= 100000).cast("int").alias("ob"))
    return fss(grid, "i", "j", "fc", "ob", ["flag"], radius=2)


def q_rps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked Probability Score (operators/verification.rps_score):
    events as ensemble members per (cell, day) instance, three
    severity thresholds, the deterministic synthetic observation
    constant within each instance.  Exact integer CDFs and ratios —
    ZERO double seams.  Full value oracle."""
    from flood_data_spark.operators.verification import rps_score

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("cell"),
        F.dayofmonth("ts").alias("t"),
        F.col("value").alias("member"))
    ev = ev.withColumn(
        "obs", ((F.col("t") % 7) * 5 + 8).cast("double"))
    return rps_score(ev, "member", "obs", ["cell"], ["t"],
                     thresholds=(10.0, 40.0, 120.0))


def q_quantile_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical quantile-mapping bias correction
    (operators/postprocess.quantile_map): a biased model climate
    (every 7th order's prices) mapped onto a shifted observed climate
    (linenumber-1 prices rescaled) per return flag — ranks, exact
    integer plotting positions, all-integer interpolation between
    observed order statistics.  ZERO double seams.  Full value
    oracle."""
    from flood_data_spark.operators.postprocess import quantile_map

    li = _t(spark, sf_dir, "lineitem")
    sim = (li.filter(F.col("l_orderkey") % 7 == 0)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(1000.0))
                   .alias("flow")))
    obs = (li.filter(F.col("l_linenumber") == 1)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(800.0)
                    + F.lit(3.0)).alias("flow")))
    return quantile_map(sim, obs, "flow", ["flag"])


def q_uh_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-hydrograph convolution (operators/routing.uh_convolve):
    daily rainfall maxima per basin through a 6-ordinate UH via the
    literal (tau, U) explode — exact integer products, the full
    recession tail emitted.  ZERO double seams.  Full value oracle."""
    from flood_data_spark.operators.routing import uh_convolve

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 8).alias("basin"),
        F.dayofmonth("ts").alias("t"), "value")
    daily = ev.groupBy("basin", "t").agg(F.max("value").alias("rain"))
    return uh_convolve(daily, "rain", "t", ["basin"],
                       ordinates=(0.05, 0.25, 0.35, 0.2, 0.1, 0.05))


def q_rps_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED RPS monitor (streaming/file_stream.rps_cell_stream +
    the SAME verification.rps_from_cells finisher as batch q_rps):
    complete-mode per-instance conditional-sum state (count/sum/min,
    all mergeable across micro-batches), finisher on the materialized
    cells.  The oracle IS the batch SQL: stream/batch parity of the
    whole score."""
    from flood_data_spark.operators.verification import rps_from_cells
    from flood_data_spark.streaming.file_stream import rps_cell_stream

    # self-sufficiency under a vanilla session: events.ts is parquet
    # TIMESTAMP(NANOS) — the same legacy conf + ns→µs normalization _t
    # applies on the batch side (entry header comment)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def build(stream):
        ev = stream
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        src = ev.select(
            (F.col("user_id") % 5).alias("cell"),
            F.dayofmonth("ts").alias("t"),
            F.col("value").alias("member"))
        src = src.withColumn(
            "obs", ((F.col("t") % 7) * 5 + 8).cast("double"))
        return rps_cell_stream(src, "member", "obs", ["cell"], ["t"],
                               thresholds=(10.0, 40.0, 120.0))

    cells = _run_file_stream(spark, f"{sf_dir}/events.parquet",
                             build, "stream_rps_",
                             output_mode="complete")
    return rps_from_cells(cells, ["cell"])


def q_rfa_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED make-then-consume gate: return-period thresholds are
    MADE by the regional frequency analysis
    (operators/extremes.regional_growth_curve — 2y/5y/20y levels per
    site) and CONSUMED by the reference's flagship exceedance operator
    (operators/threshold.ensemble_threshold_summary, site-keyed,
    exact accuracy) in ONE plan — the loop the extremes module
    docstring promises ('this module is how those thresholds are
    MADE'), now proven end-to-end: AMS extraction → regional GEV
    growth → index-flood scaling → pivot to threshold columns →
    broadcast join into the member relation → p_above_Ny + 5-number
    summary.  NULL levels (a domain-gated region) count as 'not
    exceeded', the reference's semantics.  Full value oracle
    restating both halves."""
    from flood_data_spark.operators.extremes import (
        regional_growth_curve)
    from flood_data_spark.operators.threshold import (
        ensemble_threshold_summary)

    li = _t(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") / F.lit(1000.0)
    ams = (li.groupBy((F.col("l_suppkey") % 12).alias("site"),
                      F.year("l_shipdate").alias("yr"))
           .agg(F.max(val).alias("am"))
           .withColumn("region", F.col("site") % 4))
    levels = regional_growth_curve(ams, "am", ["region"], "site",
                                   periods=(2, 5, 20))
    thr = (levels.groupBy("site")
           .agg(*[F.max(F.when(F.col("period") == y, F.col("level")))
                  .alias(f"threshold_{y}y") for y in (2, 5, 20)]))
    members = li.select((F.col("l_suppkey") % 12).alias("site"),
                        val.alias("dis24"))
    out = ensemble_threshold_summary(
        members, thr, threshold_years=(2, 5, 20),
        accuracy_mode="exact", join_keys=("site",),
        group_keys=("site",), value_col="dis24")
    return out.select(
        "site",
        F.round("p_above_2y", 6).alias("p_above_2y"),
        F.round("p_above_5y", 6).alias("p_above_5y"),
        F.round("p_above_20y", 6).alias("p_above_20y"),
        F.col("min_dis"),
        F.round("Q1_dis", 6).alias("q1_dis"),
        F.round("median_dis", 6).alias("median_dis"),
        F.round("Q3_dis", 6).alias("q3_dis"),
        F.col("max_dis"))


def q_rating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-discharge rating curve (operators/routing.rating_curve):
    power-law OLS in log-log space per station — signed micro-nat log
    seams, exact integer moments, b/ln_a/r² as exact integer ratios
    (r² through the documented n²-cleared pre-division), `a` one exp
    seam.  Full value oracle."""
    from flood_data_spark.operators.routing import rating_curve

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_suppkey") % 10).alias("station"),
                    F.col("l_quantity").alias("stage"),
                    (F.col("l_extendedprice") / F.lit(1000.0))
                    .alias("discharge"))
    return rating_curve(src, "stage", "discharge", ["station"])


def q_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test
    (operators/stats.seasonal_mann_kendall): annual series per
    (cell, calendar-month season), S and the tie-corrected variance
    combined across seasons (Hirsch-Slack), pooled seasonal Sen
    slope, the same single sqrt seam as q_mann_kendall.  Full value
    oracle."""
    from flood_data_spark.operators.stats import seasonal_mann_kendall

    li = _t(spark, sf_dir, "lineitem")
    series = (li.groupBy((F.col("l_suppkey") % 8).alias("cell"),
                         F.month("l_shipdate").alias("season"),
                         F.year("l_shipdate").alias("t"))
              .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                   .alias("x")))
    return seasonal_mann_kendall(series, "x", "t", "season", ["cell"])


def q_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transformation
    (datapipe/curation.fim_transform): md5-prefix document selection,
    two LCG character cuts, PSM reassembly — a zero-shuffle
    projection over the documents scan.  Full value oracle restating
    the hash predicate, the integer cut arithmetic, and the
    substring/concat chain."""
    from flood_data_spark.datapipe.curation import fim_transform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return fim_transform(docs, rate=0.4, min_len=32)


def q_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF curves (operators/extremes.idf_curves): daily series per
    cell, rolling 1/2/3-day integer-micro accumulations (windowed
    DOUBLE sums are association-dependent across engines — integer
    sums cannot diverge), weekly block maxima, Gumbel fit per
    duration.  Full value oracle restating the rolling frames and
    the fit chain."""
    from flood_data_spark.operators.extremes import idf_curves

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("cell"),
        F.dayofmonth("ts").alias("day"), "value")
    daily = (ev.groupBy("cell", "day")
             .agg(F.max("value").alias("rain"))
             .withColumn("wk", ((F.col("day") - 1) / 7).cast("int")))
    return idf_curves(daily, "rain", "day", "wk", ["cell"],
                      durations=(1, 2, 3), periods=(2, 20))


def q_spi_drought(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED drought monitor (McKee et al. 1993 drought classes):
    the SPI series MADE by operators/extremes.spi_empirical is
    CONSUMED by operators/extremes.drought_runs at the standard
    SPI ≤ −1 onset threshold — rank window → probit seam →
    gaps-and-islands run statistics in ONE plan.  Full value oracle
    restating both chains."""
    from flood_data_spark.operators.extremes import (
        drought_runs, spi_empirical)

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 6).alias("cell"),
        F.dayofmonth("ts").alias("day"), "value")
    daily = ev.groupBy("cell", "day").agg(F.max("value")
                                          .alias("precip"))
    spi = spi_empirical(daily, "precip", ["cell"], "day")
    return drought_runs(spi, "spi", "day", ["cell"],
                        threshold=-1.0, step=1)


def q_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative area-weighted regridding
    (operators/grid.conservative_regrid): the 0.05° part-key grid
    onto a deliberately MISALIGNED 0.075° destination (fractional
    ratio — every destination cell assembles partial overlaps) —
    integer half-micro-degree bounds, portable floor division,
    exact weighted means and coverage.  ZERO double seams.  Full
    value oracle restating the candidate scatter and every weight."""
    from flood_data_spark.operators.grid import conservative_regrid

    src = _grid_cells(spark, sf_dir)
    return conservative_regrid(src, "latitude", "longitude", "val",
                               0.05, 0.075)


def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt change-point test (operators/stats.pettitt_test) on
    the q_mann_kendall monthly series: the pair relation scattered
    into boundary deltas + ONE cumulative window (O(pairs), never
    O(n·pairs)), exact integer U_t/K/t*, one exp seam for the
    p-value.  Full value oracle (direct-definition restatement —
    exact integers make the two formulations provably equal)."""
    from flood_data_spark.operators.stats import pettitt_test

    li = _t(spark, sf_dir, "lineitem")
    series = (li.groupBy((F.col("l_suppkey") % 10).alias("cell"),
                         (F.year("l_shipdate") * 12
                          + F.month("l_shipdate")).alias("t"))
              .agg(F.max(F.col("l_extendedprice") / F.lit(1000.0))
                   .alias("x")))
    return pettitt_test(series, "x", "t", ["cell"])


def q_bss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier Skill Score vs sample climatology
    (operators/verification.brier_skill_from_cells) on the
    q_brier_decomp cells: BSS = 1 − BS/UNC on the QUANTIZED
    integer-micro terms — a documented quantized-seam composition.
    Full value oracle."""
    from flood_data_spark.operators.verification import (
        brier_cells, brier_skill_from_cells)

    li = _t(spark, sf_dir, "lineitem")
    src = li.select((F.col("l_discount") * F.lit(10.0)).alias("p"),
                    (F.col("l_returnflag") == "R").cast("int")
                    .alias("o"))
    return brier_skill_from_cells(brier_cells(src, "p", "o",
                                              n_bins=10))


def q_snow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-day snowpack model (operators/routing.snow_degree_day):
    daily precipitation with a deterministic synthetic temperature
    cycle per cell — the third custom-stateful applyInPandas
    recurrence (clamped, regime-switched), still FULLY value-oracled:
    the DuckDB twin is a recursive CTE walking the identical IEEE
    tree (CASE/least + one multiply per step), raw-double parity."""
    from flood_data_spark.operators.routing import snow_degree_day

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.col("user_id") % 5).alias("cell"),
        F.datediff(F.to_date("ts"),
                   F.lit("2024-01-01").cast("date")).alias("day"))
        .agg((F.max("value") / F.lit(10.0)).alias("precip")))
    daily = daily.withColumn(
        "temp", ((F.col("day") * 3 + F.col("cell")) % 20 - 8)
        .cast("double"))
    return snow_degree_day(daily, "precip", "temp", "day", ["cell"],
                           ddf=3.0, t_base=0.0)


def q_low_flow_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-flow frequency curve Q_{3,T}
    (operators/extremes.low_flow_frequency): weekly-block MAM3 minima
    on the shared daily hydrograph, fitted through the minima ↔
    negated-maxima duality by the SAME Gumbel chain as the flood
    fits.  Full value oracle."""
    from flood_data_spark.operators.extremes import low_flow_frequency

    daily = _daily_hydrograph(spark, sf_dir).withColumn(
        "wk", (F.col("day") / 7).cast("int"))
    return low_flow_frequency(daily, "inflow", "day", "wk", ["cell"],
                              window=3, periods=(2, 20))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the ensemble threshold summary."""
    return q_threshold_summary(spark, SF_SMOKE)


def q_fdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow-duration curve (operators/extremes.flow_duration_curve —
    VERDICT r14 #7): per-cell descending-rank Weibull exceedance
    probabilities i/(n+1) as exact integer ratios over the shared
    daily hydrograph.  ZERO double seams.  Full value oracle."""
    from flood_data_spark.operators.extremes import flow_duration_curve

    return flow_duration_curve(_daily_hydrograph(spark, sf_dir),
                               "inflow", ["cell"])


def q_flow_percentile_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USGS-WaterWatch streamflow condition classes
    (operators/extremes.flow_percentile_class — VERDICT r14 #7): the
    last 5 days of the shared hydrograph classed against the first 25
    as the historical record — mid-rank percentile as an exact
    integer micro ratio, the seven-class when-ladder mirrored
    verbatim in SQL.  Full value oracle."""
    from flood_data_spark.operators.extremes import (
        flow_percentile_class)

    daily = _daily_hydrograph(spark, sf_dir)
    return flow_percentile_class(daily.filter(F.col("day") >= 25),
                                 daily.filter(F.col("day") < 25),
                                 "inflow", ["cell"])


def q_drought_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USDM drought categories composed on the SPI chain
    (operators/extremes.drought_classes — round 15): the q_spi
    climatology feeds the D0-D4 when-ladder, cuts compared in
    quantized micro space.  Make-then-consume in ONE plan; full value
    oracle (the SPI SQL chain + the identical ladder on the seam's
    integer output)."""
    from flood_data_spark.operators.extremes import (drought_classes,
                                                     spi_empirical)

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy((F.col("user_id") % 6).alias("cell"),
                        F.dayofmonth("ts").alias("day"))
             .agg(F.max("value").alias("precip")))
    spi = spi_empirical(daily, "precip", ["cell"], "day")
    return (drought_classes(spi, "spi")
            .select("cell", "day", "spi", "d_class", "in_drought")
            .orderBy("cell", "day"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup representative selection
    (datapipe/dedup.dedup_keep_best — round 15): highest-quality copy
    per exact-duplicate group (n_chars as the quality signal), min-id
    tiebreak, ONE struct-max aggregate.  Full value oracle."""
    from flood_data_spark.datapipe.dedup import dedup_keep_best

    docs = _t(spark, sf_dir, "documents")
    return dedup_keep_best(docs.withColumn(
        "qual", F.col("n_chars").cast("double")), "qual")


def q_alert_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GloFAS-style persistence alerts
    (operators/threshold.alert_triggers — round 15): per-cell daily
    exceedance probabilities (fraction of events > 80 per day) cut at
    p ≥ 0.2 in micro space, consecutive-day runs via the
    gaps-and-islands pair, alerts at ≥ 3 consecutive leads.  Full
    value oracle."""
    from flood_data_spark.operators.threshold import alert_triggers

    ev = _t(spark, sf_dir, "events")
    probs = (ev.groupBy((F.col("user_id") % 6).alias("cell"),
                        F.dayofmonth("ts").alias("lead"))
             .agg(F.avg(F.when(F.col("value") > 80, 1)
                        .otherwise(0)).alias("p")))
    return alert_triggers(probs, "p", "lead", ["cell"],
                          threshold=0.2, min_consecutive=3)


def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication weights (datapipe/dedup.soft_dedup_weights
    — round 15): every document keeps sampling weight 1/n_copies of
    its exact-duplicate group (downweight-don't-drop), the weight an
    exact integer micro ratio.  Full value oracle."""
    from flood_data_spark.datapipe.dedup import soft_dedup_weights

    docs = _t(spark, sf_dir, "documents")
    return soft_dedup_weights(docs)


def q_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance
    (datapipe/similarity.ivf_append — VERDICT r14 #5): build the index
    on partition A (vec_id % 5 != 0), append partition B with the
    FROZEN centroids, and verify the contract against the one-shot
    assignment of A∪B under the same centroids — the two paths must
    agree row-for-row both in list membership AND in probe results
    (build-time assignment is itself a frozen-centroid pass, so
    equality is exact, not approximate).  The gate closes the contract
    to integers: (n_vectors, assign_mismatch, probe_mismatch) =
    (count, 0, 0) — a FULL value oracle (the SQL side states the
    contract; the Spark side earns it via exceptAll in both
    directions)."""
    from flood_data_spark.datapipe.similarity import (ivf_append,
                                                      ivf_build,
                                                      ivf_probe)

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 5 != 0)
    b = emb.filter(F.col("vec_id") % 5 == 0)
    centroids, lists_a = ivf_build(a, nlist=8)
    # persist both assignment paths: each is referenced THREE times
    # below (two exceptAll directions + its probe) and each reference
    # otherwise re-runs the full-corpus argmin assignment — the plan
    # carried 17 distinct embedding scans (r16, guide §5).  Query-
    # internal scratch; the bench clears caches between entries.
    incr = lists_a.unionByName(ivf_append(centroids, b)).persist()
    full = ivf_append(centroids, emb).persist()
    key = ["neighbor_id", "list_id"]
    assign_mm = (incr.select(*key).exceptAll(full.select(*key))
                 .unionAll(full.select(*key).exceptAll(incr.select(*key)))
                 .agg(F.count(F.lit(1)).alias("assign_mismatch")))
    qrs = emb.filter(F.col("vec_id") < 20)
    p_incr = ivf_probe(centroids, incr, qrs, k=5, nprobe=2)
    p_full = ivf_probe(centroids, full, qrs, k=5, nprobe=2)
    probe_mm = (p_incr.exceptAll(p_full)
                .unionAll(p_full.exceptAll(p_incr))
                .agg(F.count(F.lit(1)).alias("probe_mismatch")))
    nv = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return nv.crossJoin(assign_mm).crossJoin(probe_mm)


def q_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF re-train trigger (datapipe/similarity.ivf_drift_report):
    the per-list imbalance / centroid-drift report over a built index,
    closed to the integer contract (n_total = corpus size, lists
    bounded by nlist, drift cosines inside [-1, 1], no non-positive
    imbalance) — a FULL value oracle on the closed contract; the
    report's raw per-list floats are k-means outputs and are pinned by
    unit tests instead (tests/test_round15_ops.py)."""
    from flood_data_spark.datapipe.similarity import (ivf_build,
                                                      ivf_drift_report)

    emb = _t(spark, sf_dir, "embeddings")
    centroids, lists = ivf_build(emb, nlist=8)
    rep = ivf_drift_report(centroids, lists)
    return rep.agg(
        F.sum("n").alias("n_total"),
        F.when(F.count(F.lit(1)) <= 8, 1).otherwise(0)
        .cast("long").alias("lists_le_nlist"),
        F.sum(F.when(F.col("drift_cos").between(-1.0, 1.0), 0)
              .otherwise(1)).cast("long").alias("oob_drift"),
        F.sum(F.when(F.col("imbalance") > 0, 0).otherwise(1))
        .cast("long").alias("nonpos_imbalance"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING IS THE GATE WINDOW: the driver checks the first 50 entries.
    # Rotation discipline: every session's NEW queries lead (driver-checked
    # the round they land), then the most recent prior additions; everything
    # outside the window is covered by the committed full-sweep artifact
    # (CORRECTNESS_FULL_r8.json regenerates at each session end, all
    # registry queries vs the DuckDB oracle at sf0.01).
    return {
        # --- round 14: SPI + regional frequency analysis + spatial/
        # multi-category verification + bias correction + UH routing ---
        "q_spi": q_spi,
        "q_regional_growth": q_regional_growth,
        "q_fss": q_fss,
        "q_rps": q_rps,
        "q_quantile_map": q_quantile_map,
        "q_uh_convolve": q_uh_convolve,
        "q_rps_stream": q_rps_stream,
        "q_rfa_thresholds": q_rfa_thresholds,
        "q_rating_curve": q_rating_curve,
        "q_seasonal_mk": q_seasonal_mk,
        "q_fim": q_fim,
        "q_idf": q_idf,
        "q_spi_drought": q_spi_drought,
        "q_regrid": q_regrid,
        "q_pettitt": q_pettitt,
        "q_bss": q_bss,
        "q_snow": q_snow,
        "q_low_flow_freq": q_low_flow_freq,
        # --- round 13 session 2: the hydrological analytics layer
        # (efficiencies + extremes + routing + trend/shift tests), the
        # MT-metric trio completion, and the experiment guards ---
        "q_nse": q_nse,
        "q_kge": q_kge,
        "q_gumbel_return": q_gumbel_return,
        "q_pot_clusters": q_pot_clusters,
        "q_pot_gpd": q_pot_gpd,
        "q_mann_kendall": q_mann_kendall,
        "q_ks_test": q_ks_test,
        "q_bleu": q_bleu,
        "q_idw": q_idw,
        "q_nse_stream": q_nse_stream,
        "q_doy_climatology": q_doy_climatology,
        "q_muskingum": q_muskingum,
        "q_drought_runs": q_drought_runs,
        "q_baseflow": q_baseflow,
        "q_hurst": q_hurst,
        "q_srm": q_srm,
        "q_winsorized": q_winsorized,
        "q_kge_stream": q_kge_stream,
        "q_chrf": q_chrf,
        "q_error_summary": q_error_summary,
        "q_plotting_pos": q_plotting_pos,
        "q_flashiness": q_flashiness,
        "q_low_flow": q_low_flow,
        "q_std_anomaly": q_std_anomaly,
        "q_ffa_qq": q_ffa_qq,
        "q_persistence": q_persistence,
        "q_gev_return": q_gev_return,
        "q_lmoments": q_lmoments,
        # --- round 13 session 1: composed incremental daily
        # operations (VERDICT r12 #2) + sequential A/B (r12 #8) ---
        "q_daily_incremental": q_daily_incremental,
        "q_msprt": q_msprt,
        "q_msprt_stream": q_msprt_stream,
        "q_seeps": q_seeps,
        "q_ratio_ci": q_ratio_ci,
        "q_readability": q_readability,
        "q_zipf": q_zipf,
        "q_fs_linkage": q_fs_linkage,
        "q_wilson": q_wilson,
        "q_spiegelhalter": q_spiegelhalter,
        "q_neyman": q_neyman,
        "q_attribution": q_attribution,
        "q_jsd": q_jsd,
        # --- round 12: Hersbach decomposition, streamed CRPS, ECE
        # cross-gate (VERDICT r11 #3/#4/#7) ---
        "q_crps_decomp": q_crps_decomp,
        "q_crps_stream": q_crps_stream,
        "q_ece_cells": q_ece_cells,
        "q_grib_spectral": q_grib_spectral,
        "q_contingency_scores": q_contingency,
        "q_roc_curve": q_roc_curve,
        "q_roc_auc": q_roc_auc,
        "q_roc_stream": q_roc_stream,
        "q_quantile_score": q_quantile_score,
        "q_isotonic": q_isotonic,
        "q_energy_score": q_energy_score,
        "q_acc": q_acc,
        "q_cost_loss": q_cost_loss,
        "q_quantile_stream": q_quantile_stream,
        "q_rouge": q_rouge,
        "q_image_ahash": q_image_ahash,
        "q_ahash_pairs": q_ahash_pairs,
        "q_warc_ingest": q_warc_ingest,
        "q_html_text": q_html_text,
        "q_url_normalize": q_url_normalize,
        "q_crawl_pipeline": q_crawl_pipeline,
        "q_cuped": q_cuped,
        "q_dm_test": q_dm_test,
        "q_dm_hac": q_dm_hac,
        "q_grpo_advantage": q_grpo_advantage,
        "q_best_of_n": q_best_of_n,
        "q_dpo_pairs": q_dpo_pairs,
        "q_stream_contingency": q_stream_contingency,
        # --- round 11: forecast verification (VERDICT r10 #2) ---
        "q_crps": q_crps,
        "q_rank_histogram": q_rank_histogram,
        "q_brier_decomp": q_brier_decomp,
        "q_spread_skill": q_spread_skill,
        # --- round 11: preference fitting + KN smoothing + streamed
        # Brier (new) ---
        "q_bradley_terry": q_bradley_terry,
        "q_kneser_ney": q_kneser_ney,
        "q_stream_brier": q_stream_brier,
        "q_whiten": q_whiten,
        "q_reliability": q_reliability,
        # --- round 8, session 4: stats + stump + encoders + CF ---
        "q_oof_encode": q_oof_encode,
        "q_stream_psi": q_stream_psi,
        "q_conformal": q_conformal,
        "q_psi": q_psi,
        "q_unigram_vocab": q_unigram_vocab,
        "q_unigram_encode": q_unigram_encode,
        "q_unigram_em": q_unigram_em,
        "q_bootstrap_ci": q_bootstrap_ci,
        "q_rolling_median": q_rolling_median,
        "q_agg_merge": q_agg_merge,
        "q_benford": q_benford,
        "q_gini": q_gini,
        "q_snm_pairs": q_snm_pairs,
        "q_impute": q_impute,
        "q_holt": q_holt,
        "q_point_in_polygon": q_point_in_polygon,
        "q_polygon_membership": q_polygon_membership,
        "q_zonal_stats": q_zonal_stats,
        "q_polygon_area": q_polygon_area,
        "q_polygon_box_intersects": q_polygon_box_intersects,
        "q_zonal_weighted": q_zonal_weighted,
        "q_membership_stream": q_membership_stream,
        "q_polygon_join": q_polygon_join,
        "q_textrank": q_textrank,
        "q_fd_discovery": q_fd_discovery,
        "q_ndcg": q_ndcg,
        "q_kmv_overlap": q_kmv_overlap,
        "q_bitext_mine": q_bitext_mine,
        "q_item_cf": q_item_cf,
        "q_acf": q_acf,
        "q_tree_stump": q_tree_stump,
        "q_target_encode": q_target_encode,
        "q_loo_encode": q_loo_encode,
        "q_woe_encode": q_woe_encode,
        # --- round 8, session 3: graph analytics (new graph.py fns) ---
        "q_triangles": q_triangles,
        "q_link_pred": q_link_pred,
        "q_bfs": q_bfs,
        # --- round 8, session 3: counting classifiers (new bayes.py) ---
        "q_naive_bayes": q_naive_bayes,
        "q_chi2_terms": q_chi2_terms,
        # --- round 8, session 3: survival + experiments (new module) ---
        "q_survival": q_survival,
        "q_ab_test": q_ab_test,
        # --- round 8, session 3: market-basket + information theory ---
        "q_assoc_rules": q_assoc_rules,
        "q_mutual_info": q_mutual_info,
        # --- round 8, continuation batch (7): linalg + fuzzy + CMS ---
        "q_dim_stats": q_dim_stats,
        "q_gram_matrix": q_gram_matrix,
        "q_power_iteration": q_power_iteration,
        "q_covariance": q_covariance,
        "q_fuzzy_pairs": q_fuzzy_pairs,
        "q_fuzzy_match": q_fuzzy_match,
        "q_cms_tokens": q_cms_tokens,
        "q_cms_stream": q_cms_stream,
        "q_hits": q_hits,
        "q_ewma": q_ewma,
        "q_cusum": q_cusum,
        "q_ewma_stream": q_ewma_stream,
        "q_funnel": q_funnel,
        "q_retention": q_retention,
        "q_transitions": q_transitions,
        "q_label_prop": q_label_prop,
        "q_cusum_stream": q_cusum_stream,
        "q_ohlc": q_ohlc,
        "q_twap": q_twap,
        "q_interval_join": q_interval_join,
        # --- r6 reds, fixed this round ---
        "q_ts_pattern_topk": q_ts_pattern_topk,
        # --- new this round, third batch (19) ---
        "q_salted_join": q_salted_join,
        "q_join_fanout": q_join_fanout,
        "q_scd2": q_scd2,
        "q_winnow": q_winnow,
        "q_winnow_matches": q_winnow_matches,
        "q_stream_topk": q_stream_topk,
        "q_ngram_diversity": q_ngram_diversity,
        "q_jaccard_prefix": q_jaccard_prefix,
        "q_seasonal": q_seasonal,
        "q_remove_spans": q_remove_spans,
        "q_clf_eval_by": q_clf_eval_by,
        "q_radius_join": q_radius_join,
        "q_stream_join": q_stream_join,
        "q_bm25_indexed": q_bm25_indexed,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_ir_metrics": q_ir_metrics,
        "q_bm25_prf": q_bm25_prf,
        "q_equidepth": q_equidepth,
        # --- round 8: classifier training + serving, streamed summary ---
        "q_quality_clf": q_quality_clf,
        "q_quality_clf_score": q_quality_clf_score,
        "q_stream_summary": q_stream_summary,
        "q_quality_tiers": q_quality_tiers,
        "q_platt_calibration": q_platt_calibration,
        "q_clf_eval": q_clf_eval,
        "q_clf_roc": q_clf_roc,
        "q_bloom_dedup": q_bloom_dedup,
        "q_profile": q_profile,
        # --- new this round (5) ---
        # q_alert_stream stays IN-window (its stateful.py module gained
        # ewma_stream this session); q_grib_codec stays IN-window: its
        # builder gained the 5.2/5.3 complex-packing rotation, so it
        # must be driver-checked this round
        "q_alert_stream": q_alert_stream,
        "q_grib_codec": q_grib_codec,
        # --- round 7, second batch ---
        # ---------------- gate window boundary (50) ----------------
        # q_clf_eval/q_clf_roc enter in-window (classifier.py gained
        # evaluate_binary/roc_points this session); q_quantize and
        # q_cluster_sample displace here — quantize.py/clustering.py
        # are unchanged since their r07 gate green, and both were green
        # again in the r8 full sweep.  q_winnow/q_winnow_matches enter
        # in-window (new text.py operators this session), displacing
        # q_dsir_weights/q_dsir_select — curation.py's only post-sweep
        # change is the dsir_select temperature guard, and both were
        # green in the r8 full sweep re-run at that HEAD.
        # q_jaccard_prefix enters in-window (new dedup.py operator this
        # session), displacing q_mixture_weights; q_seasonal enters
        # (new timeseries.py operator), displacing q_quality_rank —
        # curation.py unchanged since its r8 full-sweep green;
        # q_scd2 enters (new operators/scd.py), displacing
        # q_bigram_ppl (r7-gated, bigram chain untouched, full-sweep
        # green at HEAD).
        "q_quantize": q_quantize,
        "q_cluster_sample": q_cluster_sample,
        "q_dsir_weights": q_dsir_weights,
        "q_dsir_select": q_dsir_select,
        "q_mixture_weights": q_mixture_weights,
        "q_quality_rank": q_quality_rank,
        "q_bigram_ppl": q_bigram_ppl,
        "q_bm25_topk": q_bm25_topk,
        "q_gopher_rules": q_gopher_rules,
        "q_remove_spans_first": q_remove_spans_first,
        "q_cooccurrence": q_cooccurrence,
        "q_next_event_pairs": q_next_event_pairs,
        # r8 continuation rotation: SIXTEEN new queries enter at the
        # head (q_dim_stats, q_gram_matrix, q_power_iteration,
        # q_covariance, q_fuzzy_pairs, q_fuzzy_match, q_cms_tokens,
        # q_cms_stream, q_hits, q_ewma, q_cusum, q_ewma_stream,
        # q_funnel, q_retention, q_transitions, q_label_prop); the
        # sixteen displaced below
        # (q_hard_negatives, q_matryoshka_topk — similarity.py untouched
        # this session — q_session_stream whose file_stream module
        # gained only the independent cms_stream function,
        # q_image_codec/q_audio_codec — codecs.py untouched — then
        # q_pq_recall, q_ivfpq_recall, q_dedup_stream,
        # q_kmeans_contract … q_unigram_ppl) were green in the r7 gate
        # and the r8 full sweep on modules unchanged since.
        # (q_bm25_batch joins them — text.py untouched this session —
        # q_bloom_stream, whose file_stream module gained only the
        # independent cms_stream function — q_cms_stream + q_ewma_stream
        # exercise the streaming scaffolds in-window — and q_trend,
        # whose regr_* module is untouched, displaced by q_cusum_stream;
        # likewise q_mixture_plan/q_robust_outliers/q_suppress_rare —
        # curation/stats modules untouched — displaced by
        # q_ohlc/q_twap/q_interval_join)
        "q_suppress_rare": q_suppress_rare,
        "q_mixture_plan": q_mixture_plan,
        "q_robust_outliers": q_robust_outliers,
        "q_trend": q_trend,
        "q_bloom_stream": q_bloom_stream,
        "q_bm25_batch": q_bm25_batch,
        "q_hard_negatives": q_hard_negatives,
        "q_matryoshka_topk": q_matryoshka_topk,
        "q_session_stream": q_session_stream,
        "q_image_codec": q_image_codec,
        "q_audio_codec": q_audio_codec,
        "q_pq_recall": q_pq_recall,
        "q_ivfpq_recall": q_ivfpq_recall,
        "q_dedup_stream": q_dedup_stream,
        "q_kmeans_contract": q_kmeans_contract,
        "q_kmeans_assign": q_kmeans_assign,
        "q_bpe_pairs": q_bpe_pairs,
        "q_bpe_contract": q_bpe_contract,
        "q_bpe_encode": q_bpe_encode,
        "q_unigram_ppl": q_unigram_ppl,
        # r8 rotation: fifteen new queries enter (q_quality_clf,
        # q_quality_clf_score, q_stream_summary, q_quality_tiers,
        # q_platt_calibration, q_suppress_rare, q_mixture_plan,
        # q_robust_outliers, q_trend, q_bloom_dedup, q_profile,
        # q_bloom_stream, q_bm25_batch, q_hard_negatives,
        # q_matryoshka_topk; the reworked q_equidepth stays in) — new
        # queries are driver-checked the round they land.  Everything
        # from here down was green in the r7 gate AND the r8 full sweep
        # (CORRECTNESS_FULL_r8.json) on modules unchanged since, except
        # q_stream_threshold, whose changed builder is exercised
        # in-window by q_stream_summary.
        "q_pagerank": q_pagerank,
        "q_threshold_combine": q_threshold_combine,
        "q_summary_forecast": q_summary_forecast,
        "q_upstream_mask": q_upstream_mask,
        "q_semi_join": q_semi_join,
        "q_union_events": q_union_events,
        "q_stream_threshold": q_stream_threshold,
        "q_window_lag": q_window_lag,
        "q_range_filter": q_range_filter,
        "q_anti_join": q_anti_join,
        "q_rollup": q_rollup,
        "q_pivot": q_pivot,
        "q_events_daily": q_events_daily,
        "q_resample": q_resample,
        "q_asof_join": q_asof_join,
        "q_restrict_area": q_restrict_area,
        "q_neighborhood": q_neighborhood,
        "q_point_lookup": q_point_lookup,
        "q_round_join": q_round_join,
        "q_batch_lookup": q_batch_lookup,
        # Evicted this rotation (all green r5/r6, modules untouched this
        # session): q_morton_key + q_round_join (keys.py), q_restrict_area (geometry.py), q_neighborhood, q_point_lookup
        # + q_batch_lookup (serving.py), q_curation, q_dedup_exact and
        # the relational/curation tail below.  serving.py and keys.py
        # received NO commits this round, so their pytest coverage is the
        # current evidence; they re-enter the window next rotation.  q_asof_join stays IN: its
        # module (operators/timeseries.py) was refactored this session
        # (_with_session_ids extraction), and refactored modules must be
        # driver-checked the round they change.
        "q_morton_key": q_morton_key,
        "q_curation": q_curation,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_against": q_dedup_against,
        "q_jaccard_cross": q_jaccard_cross,
        "q_hash_sample": q_hash_sample,
        "q_split_assign": q_split_assign,
        "q_split_budget": q_split_budget,
        "q_stratified_sample": q_stratified_sample,
        "q_pricing_summary": q_pricing_summary,
        "q_region_revenue": q_region_revenue,
        "q_top_customer_per_nation": q_top_customer_per_nation,
        "q_set_ops": q_set_ops,
        "q_histogram": q_histogram,
        "q_shuffle_key": q_shuffle_key,
        "q_clean_lines": q_clean_lines,
        "q_line_dedup": q_line_dedup,
        "q_chunk_docs": q_chunk_docs,
        "q_cap_per_source": q_cap_per_source,
        "q_token_count": q_token_count,
        "q_quality": q_quality,
        # --- r6 greens whose modules changed this round (7) ---
        "q_nearest_reindex": q_nearest_reindex,          # grid.py argmin
        "q_sessionize": q_sessionize,                    # timeseries _diff_us
        "q_session_window": q_session_window,
        "q_rolling": q_rolling,
        # --- r6 greens, stable, re-enter next rotation ---
        "q_pack_sequences": q_pack_sequences,            # curation guard
        "q_curation_v2": q_curation_v2,
        "q_leakage_safe_split": q_leakage_safe_split,
        "q_ngram_jaccard_capped": q_ngram_jaccard_capped,
        "q_contamination": q_contamination,
        "q_tfidf_topk": q_tfidf_topk,
        "q_repetition": q_repetition,
        "q_redact_pii": q_redact_pii,
        "q_quantized_topk": q_quantized_topk,
        "q_hll_contract": q_hll_contract,
        "q_heavy_tokens": q_heavy_tokens,
        "q_vocab": q_vocab,
        "q_corpus_report": q_corpus_report,
        "q_embedding_dedup_lsh": q_embedding_dedup_lsh,
        "q_minhash_recall": q_minhash_recall,
        "q_simhash_contract": q_simhash_contract,
        "q_lsh_topk_recall": q_lsh_topk_recall,
        "q_ivf_recall": q_ivf_recall,
        "q_ivf_incremental": q_ivf_incremental,
        "q_ivf_drift": q_ivf_drift,
        "q_fdc": q_fdc,
        "q_flow_percentile_class": q_flow_percentile_class,
        "q_alert_triggers": q_alert_triggers,
        "q_soft_dedup": q_soft_dedup,
        "q_drought_classes": q_drought_classes,
        "q_dedup_keep_best": q_dedup_keep_best,
        "q_ivf_sq8_recall": q_ivf_sq8_recall,
        "q_embedding_dedup_lsh_recall": q_embedding_dedup_lsh_recall,
        "q_lang_id": q_lang_id,
        "q_fingerprint": q_fingerprint,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_cosine_topk": q_cosine_topk,
        "q_embedding_dedup": q_embedding_dedup,
        "q_dedup_clusters": q_dedup_clusters,
        "q_minhash_lsh": q_minhash_lsh,
        "q_simhash_dups": q_simhash_dups,
        "q_lsh_topk": q_lsh_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_length_buckets": q_length_buckets,
        "q_semantic_dedup": q_semantic_dedup,
        "q_semantic_dedup_contract": q_semantic_dedup_contract,
        "q_repeated_spans": q_repeated_spans,
        "q_json_extract": q_json_extract,
        "q_cube": q_cube,
        "q_full_outer": q_full_outer,
        "q_corpus_diff": q_corpus_diff,
        "q_threshold_summary": q_threshold_summary,
        "q_threshold_summary_approx": q_threshold_summary_approx,
        "q_tendency": q_tendency,
        "q_intensity": q_intensity,
        "q_peak_timing": q_peak_timing,
        "q_wkt_geometry": q_wkt_geometry,
    }


# Shared BM25 oracle machinery: ONE definition of the scoring chain,
# parameterized by a CTE-name prefix and the term predicate, so
# q_bm25_topk, q_bm25_indexed, the hybrid-RRF lexical leg, and BOTH
# passes of the PRF oracle cannot drift from each other.
def _bm25_chain(p: str, term_pred: str) -> str:
    return f"""{p}dl AS (
                SELECT doc_id AS id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(lower(trim(text)),
                                                        '\\s+'))
                       END AS dl
                FROM documents),
            {p}stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                                avg(dl) AS avgdl FROM {p}dl),
            {p}terms AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS term
                FROM documents),
            {p}tf AS (
                SELECT id, term, CAST(count(*) AS BIGINT) AS tf
                FROM {p}terms
                WHERE {term_pred}
                GROUP BY id, term),
            {p}dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t
                         FROM {p}tf GROUP BY term),
            {p}scored AS (
                SELECT t.id,
                       ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
                       * t.tf * (1.2 + 1.0)
                       / (t.tf + 1.2 * ((1.0 - 0.75)
                                        + 0.75 * l.dl / s.avgdl)) AS contrib
                FROM {p}tf t
                JOIN {p}dfreq d USING (term)
                JOIN {p}dl l ON t.id = l.id, {p}stats s),
            {p}agg AS (
                SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
                       round(sum(contrib), 6) AS bm25
                FROM {p}scored GROUP BY id)"""


# Shared oracle for the approx-quantile bounds-contract gates
# (q_threshold_summary_approx and its streamed twin q_stream_summary):
# the exactly-checkable aggregates are computed for real; the q*_ok flags
# assert the sketch-side membership/bounds/rank-error contract holds.
_APPROX_BOUNDS_ORACLE_SQL = """
            SELECT l_partkey AS partkey,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice * 0.8
                             THEN 1 ELSE 0 END), 6) AS p_above_2y,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice
                             THEN 1 ELSE 0 END), 6) AS p_above_5y,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice * 1.2
                             THEN 1 ELSE 0 END), 6) AS p_above_20y,
                   min(l_extendedprice) AS min_dis,
                   max(l_extendedprice) AS max_dis,
                   CAST(count(*) AS BIGINT) AS n_members,
                   TRUE AS q1_ok, TRUE AS median_ok, TRUE AS q3_ok
            FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
            GROUP BY l_partkey
        """


_BM25_TERM_LIST = ["data", "flood", "model", "river", "the"]
_BM25_TERMS = "(" + ", ".join(f"'{t}'" for t in _BM25_TERM_LIST) + ")"
_BM25_TERMS_ARRAY = "[" + ", ".join(f"'{t}'" for t in _BM25_TERM_LIST) + "]"
_BM25_ORACLE_SQL = f"""
            WITH {_bm25_chain('', 'term IN ' + _BM25_TERMS)}
            SELECT doc_id, n_hit_terms, bm25
            FROM agg
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT 20
        """


# Shared DSIR oracle core (rt..agg CTE chain): q_dsir_weights and
# q_dsir_select both interpolate this single definition, so a fix to
# the smoothing/vocab/token-filter arithmetic cannot drift between
# the two gates.
_DSIR_ORACLE_CTES = """rt AS (
                SELECT id, term FROM (
                    SELECT doc_id AS id,
                           unnest(string_split_regex(lower(trim(text)),
                                                     '\\s+')) AS term
                    FROM documents)
                WHERE term <> ''),
            tt AS (
                SELECT id, term FROM (
                    SELECT doc_id AS id,
                           unnest(string_split_regex(lower(trim(text)),
                                                     '\\s+')) AS term
                    FROM documents WHERE lang = 'de')
                WHERE term <> ''),
            raw_lm AS (SELECT term, count(*) AS raw_count
                       FROM rt GROUP BY term),
            tgt_lm AS (SELECT term, count(*) AS tgt_count
                       FROM tt GROUP BY term),
            vocab AS (
                SELECT coalesce(r.term, t.term) AS term,
                       coalesce(r.raw_count, 0) AS raw_count,
                       coalesce(t.tgt_count, 0) AS tgt_count
                FROM raw_lm r FULL OUTER JOIN tgt_lm t ON r.term = t.term),
            tot AS (SELECT CAST(sum(raw_count) AS BIGINT) AS raw_total,
                           CAST(sum(tgt_count) AS BIGINT) AS tgt_total,
                           CAST(count(*) AS BIGINT) AS vocab_size
                    FROM vocab),
            ratio AS (
                SELECT term,
                       ln((tgt_count + 0.5)
                          / (t.tgt_total + 0.5 * (t.vocab_size + 1)))
                       - ln((raw_count + 0.5)
                            / (t.raw_total + 0.5 * (t.vocab_size + 1)))
                       AS log_ratio
                FROM vocab, tot t),
            agg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
                       round(sum(log_ratio), 6) AS log_weight,
                       round(avg(log_ratio), 6) AS avg_log_weight
                FROM rt JOIN ratio USING (term) GROUP BY id)"""


def _bloom_pos_sql(dk_expr: str, i: int, n_bits: int) -> str:
    """DuckDB twin of dedup._bloom_positions: md5(dk || i) 8-hex prefix
    rebuilt with integer shifts, mod n_bits — bit-identical to Spark's
    conv(substring(md5(concat(...)), 1, 8), 16, 10) % n_bits."""
    return (f"CAST(list_sum([CAST(strpos('0123456789abcdef', "
            f"md5({dk_expr} || '{i}')[j]) - 1 AS BIGINT) * "
            f"(CAST(1 AS BIGINT) << (4 * (8 - j))) "
            f"for j in range(1, 9)]) % {n_bits} AS INT)")


_BLOOM_ORACLE_SQL = f"""
            WITH k AS (
                SELECT doc_id,
                       md5(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                'g'))) AS dk
                FROM documents),
            refpos AS (
                SELECT DISTINCT unnest([{_bloom_pos_sql('dk', 0, 4096)}, {_bloom_pos_sql('dk', 1, 4096)}, {_bloom_pos_sql('dk', 2, 4096)}, {_bloom_pos_sql('dk', 3, 4096)}]) AS pos
                FROM k WHERE doc_id < 250),
            bq AS (
                SELECT doc_id,
                       unnest([{_bloom_pos_sql('dk', 0, 4096)}, {_bloom_pos_sql('dk', 1, 4096)}, {_bloom_pos_sql('dk', 2, 4096)}, {_bloom_pos_sql('dk', 3, 4096)}]) AS pos
                FROM k WHERE doc_id >= 250),
            hit AS (
                SELECT b.doc_id,
                       sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END)
                           AS nh
                FROM bq b LEFT JOIN refpos r ON b.pos = r.pos
                GROUP BY b.doc_id)
            SELECT doc_id, (nh = 4) AS bloom_maybe_seen FROM hit
        """


# Shared batch-retrieval ranking chain: one _bm25_chain per fixed eval
# query, unioned and per-query ranked on the rounded score —
# q_bm25_batch and q_hard_negatives interpolate this single definition.
def _bm25_batch_ranked() -> str:
    return f"""{_bm25_chain('ba', "term IN ('join', 'hash')")},
            {_bm25_chain('bb', "term IN ('data', 'scan')")},
            {_bm25_chain('bc', "term IN ('table', 'value')")},
            allq AS (
                SELECT 'q1' AS query_id, doc_id, n_hit_terms, bm25
                FROM baagg
                UNION ALL
                SELECT 'q2', doc_id, n_hit_terms, bm25 FROM bbagg
                UNION ALL
                SELECT 'q3', doc_id, n_hit_terms, bm25 FROM bcagg),
            rankedq AS (
                SELECT query_id, doc_id, n_hit_terms, bm25,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id ASC) AS INT)
                           AS rank
                FROM allq)"""


# Shared temperature-mixture chain (per-source token counts -> shares ->
# alpha-scaled weights): q_mixture_weights and q_mixture_plan interpolate
# this single definition.
_MIXTURE_ORACLE_CTES = """per AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN trim(coalesce(text, '')) = ''
                                THEN 0
                                ELSE len(string_split_regex(trim(text),
                                                            '\\s+'))
                                END) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
                    FROM per),
            sh AS (SELECT per.source, per.n_docs, per.n_tokens,
                          per.n_tokens / CAST(t.total_tokens AS DOUBLE)
                              AS token_share,
                          pow(per.n_tokens
                              / CAST(t.total_tokens AS DOUBLE), 0.3)
                              AS scaled
                   FROM per, tot t),
            z AS (SELECT sum(scaled) AS z FROM sh)"""


# Shared session-bounded event-pairs chain: q_next_event_pairs and
# q_transitions both interpolate this single definition (gap 3600 s,
# (ts, event_id) ordering — matching next_event_pairs' gate arguments).
_EVENT_PAIRS_CTES = """flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > CAST(3600 AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            numbered AS (
                SELECT *,
                       sum(new_s) OVER w2 AS session_id,
                       lead(event_type) OVER w2b AS next_event_type,
                       lead(ts) OVER w2b AS next_ts,
                       lead(new_s) OVER w2b AS next_new
                FROM flagged
                WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING),
                       w2b AS (PARTITION BY user_id ORDER BY ts, event_id))"""


# Shared CMS cell relation: q_cms_tokens (batch) and q_cms_stream
# (availableNow) both interpolate this single definition — the sketch
# cells from the documents token stream, 3 x 512, 52-bit salted-md5
# positions (sketches._cms_col arithmetic).
_CMS_CELLS_CTES = """toks AS (
                SELECT unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS token
                FROM documents),
            tk AS (SELECT token FROM toks WHERE token <> ''),
            pos AS (
                SELECT token, t.r AS row,
                       CAST(('0x' || substr(md5('cms' || t.r || ':' ||
                                                token), 1, 13)) AS BIGINT)
                       % 512 AS col
                FROM tk, range(3) t(r)),
            cells AS (
                SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
                FROM pos GROUP BY row, col)"""


# Shared per-source quality-score ranking chain: q_quality_rank and
# q_quality_tiers both interpolate this single definition (raw signals →
# composite score → per-source percent_rank).
_QSCORE_ORACLE_CTES = """raw AS (
                SELECT doc_id, source,
                       CAST(length(coalesce(text, '')) AS DOUBLE) AS n_chars,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN 0.0
                            ELSE CAST(len(string_split_regex(trim(text),
                                                             '\\s+'))
                                 AS DOUBLE)
                       END AS n_tokens,
                       CAST(len(regexp_extract_all(coalesce(text, ''),
                                                   '[.,;:!?]'))
                            AS DOUBLE) AS n_punct,
                       CAST(len(regexp_extract_all(coalesce(text, ''),
                                                   '[A-Za-z]'))
                            AS DOUBLE) AS n_alpha,
                       CAST(len(regexp_extract_all(coalesce(text, ''),
                            '(?i)\\b(the|and|of|to|is)\\b'))
                            AS DOUBLE) AS n_stop
                FROM documents),
            ratios AS (
                SELECT doc_id, source, n_chars, n_tokens,
                       n_alpha / greatest(n_chars, 1.0) AS alpha_ratio,
                       n_punct / greatest(n_chars, 1.0) AS punct_ratio,
                       n_stop / greatest(n_tokens, 1.0) AS stop_ratio,
                       n_chars / greatest(n_tokens, 1.0) AS mean_token_len
                FROM raw),
            scored AS (
                SELECT doc_id, source,
                       round(least(1.0,
                             0.4 * alpha_ratio
                           + 0.3 * least(1.0, stop_ratio * 5)
                           + 0.2 * (CASE WHEN mean_token_len >= 3
                                          AND mean_token_len <= 12
                                         THEN 1.0 ELSE 0.0 END)
                           + 0.1 * least(1.0, punct_ratio * 20)), 6)
                           AS q_score
                FROM ratios),
            ranked AS (
                SELECT doc_id, source, q_score,
                       round(percent_rank() OVER (PARTITION BY source
                                                  ORDER BY q_score ASC), 6)
                           AS pct_rank
                FROM scored)"""


# Shared quality-classifier oracle core: 3 unrolled batch-GD iterations of
# hashed-feature logistic regression (datapipe/classifier.py), y = (lang =
# 'en'), 32 buckets, lr 0.5 on the mean gradient.  q_quality_clf (the
# trained weights) and q_quality_clf_score (doc scores under those weights)
# both interpolate this single definition.  Weights are rounded to 6
# decimals after every update in BOTH engines — the resync that keeps
# engine-specific float-summation order from accumulating across the
# unroll (the q_pagerank discipline).  Iteration 1 uses p = 0.5 exactly
# (sigmoid of the all-zero initial model) in both engines.
_CLF_ORACLE_CTES = """ctoks AS (
                SELECT id, y, term FROM (
                    SELECT doc_id AS id,
                           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                           unnest(string_split_regex(
                               lower(trim(coalesce(text, ''))),
                               '\\s+')) AS term
                    FROM documents)
                WHERE term <> ''),
            cfeat AS (
                SELECT id, y,
                       CAST(list_sum(
                           [CAST(strpos('0123456789abcdef',
                                        md5(term)[i]) - 1 AS BIGINT)
                            * (CAST(1 AS BIGINT) << (4 * (4 - i)))
                            for i in range(1, 5)]) % 32 AS INT) AS feat
                FROM ctoks),
            ctf AS (
                SELECT id, y, feat, CAST(count(*) AS DOUBLE) AS cnt
                FROM cfeat GROUP BY id, y, feat),
            cx AS (
                SELECT id, y, feat,
                       cnt / sum(cnt) OVER (PARTITION BY id) AS x,
                       count(*) OVER (PARTITION BY id) AS nrows
                FROM ctf),
            cn AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS n FROM cx),
            g1 AS (SELECT feat, sum((0.5 - y) * x) AS g,
                          sum((0.5 - y) / nrows) AS gb
                   FROM cx GROUP BY feat),
            w1 AS (SELECT feat, round(0.0 - 0.5 * g / n, 6) AS w
                   FROM g1, cn),
            b1 AS (SELECT round(0.0 - 0.5 * sum(gb) / any_value(n), 6) AS b
                   FROM g1, cn),
            e2 AS (SELECT f.id, f.y, f.feat, f.x, f.nrows,
                          1.0 / (1.0 + exp(-(b1.b
                              + sum(w1.w * f.x)
                                OVER (PARTITION BY f.id)))) - f.y AS err
                   FROM cx f JOIN w1 USING (feat), b1),
            g2 AS (SELECT feat, sum(err * x) AS g, sum(err / nrows) AS gb
                   FROM e2 GROUP BY feat),
            w2 AS (SELECT w1.feat, round(w1.w - 0.5 * g2.g / cn.n, 6) AS w
                   FROM w1 JOIN g2 USING (feat), cn),
            b2 AS (SELECT round(b1.b - 0.5 * g2s.s / cn.n, 6) AS b
                   FROM b1, (SELECT sum(gb) AS s FROM g2) g2s, cn),
            e3 AS (SELECT f.id, f.y, f.feat, f.x, f.nrows,
                          1.0 / (1.0 + exp(-(b2.b
                              + sum(w2.w * f.x)
                                OVER (PARTITION BY f.id)))) - f.y AS err
                   FROM cx f JOIN w2 USING (feat), b2),
            g3 AS (SELECT feat, sum(err * x) AS g, sum(err / nrows) AS gb
                   FROM e3 GROUP BY feat),
            w3 AS (SELECT w2.feat, round(w2.w - 0.5 * g3.g / cn.n, 6) AS w
                   FROM w2 JOIN g3 USING (feat), cn),
            b3 AS (SELECT round(b2.b - 0.5 * g3s.s / cn.n, 6) AS b
                   FROM b2, (SELECT sum(gb) AS s FROM g3) g3s, cn)"""

# Shared corpus-wide scored relation + quantized score groups for the
# evaluation gates (q_clf_eval, q_clf_roc): every document scored with
# the w3/b3 model exactly as q_quality_clf_score does (round-6 sigmoid,
# zero-token docs score sigmoid(bias)), then collapsed to one row per
# distinct score — the bounded relation evaluate_binary's metrics run
# on.  Interpolated AFTER _CLF_ORACLE_CTES.
_CLF_EVAL_CTES = """esum AS (
                SELECT f.id, sum(coalesce(w3.w, 0.0)) AS tot,
                       CAST(count(*) AS DOUBLE) AS dl
                FROM (SELECT id, feat FROM cfeat) f
                LEFT JOIN w3 USING (feat) GROUP BY f.id),
            escored AS (
                SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                       round(1.0 / (1.0 + exp(-(b3.b
                             + coalesce(esum.tot / esum.dl, 0.0)))), 6)
                           AS s
                FROM documents d LEFT JOIN esum ON d.doc_id = esum.id,
                     b3),
            egrp AS (
                SELECT s, CAST(round(s * 1000000) AS BIGINT) AS si,
                       CAST(count(*) AS BIGINT) AS n_g,
                       CAST(sum(y) AS BIGINT) AS pos_g
                FROM escored GROUP BY s)"""


# Shared winnowing fingerprint chain (k=8 chars, w=5) for q_winnow and
# q_winnow_matches — the text.winnow_fingerprints construction restated:
# normalized char grams, 52-bit md5 hashes, nearest-blocker closed form
# for "some window selects p as rightmost minimum".
def _winnow_ctes(max_id: int) -> str:
    return f"""wbase AS (
                SELECT doc_id AS id,
                       regexp_replace(lower(coalesce(text, '')),
                                      '[^a-z0-9]', '', 'g') AS txt
                FROM documents WHERE doc_id < {max_id}),
            wlen AS (
                SELECT id, txt, greatest(length(txt) - 7, 0) AS n
                FROM wbase),
            wgram AS (
                SELECT id, n, least(5, n) AS wp,
                       unnest(range(1, n + 1)) AS pos, txt
                FROM wlen WHERE n >= 1),
            wh AS (
                SELECT id, n, wp, pos,
                       CAST(('0x' || substr(md5(substr(txt, pos, 8)),
                                            1, 13)) AS BIGINT) AS h
                FROM wgram),
            wreach AS (
                SELECT id, q, qh, q + d AS pos FROM (
                    SELECT id, pos AS q, h AS qh,
                           unnest([d for d in range(-(wp - 1), wp)
                                   if d != 0]) AS d
                    FROM wh)),
            wlr AS (
                SELECT t.id, t.pos, t.h, t.wp, t.n,
                       max(CASE WHEN r.q < t.pos AND r.qh < t.h
                                THEN r.q END) AS L,
                       min(CASE WHEN r.q > t.pos AND r.qh <= t.h
                                THEN r.q END) AS R
                FROM wh t LEFT JOIN wreach r
                  ON t.id = r.id AND t.pos = r.pos
                GROUP BY t.id, t.pos, t.h, t.wp, t.n),
            wsel AS (
                SELECT id, pos, h AS fp FROM wlr
                WHERE greatest(pos - wp + 1, coalesce(L + 1, 1), 1)
                      <= least(pos, coalesce(R - wp, pos),
                               n - wp + 1))"""


# Grouped (per-source) twin of _CLF_EVAL_CTES for q_clf_eval_by.
_CLF_EVAL_BY_CTES = """besum AS (
                SELECT f.id, sum(coalesce(w3.w, 0.0)) AS tot,
                       CAST(count(*) AS DOUBLE) AS dl
                FROM (SELECT id, feat FROM cfeat) f
                LEFT JOIN w3 USING (feat) GROUP BY f.id),
            bescored AS (
                SELECT d.source AS source,
                       CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                       round(1.0 / (1.0 + exp(-(b3.b
                             + coalesce(besum.tot / besum.dl, 0.0)))), 6)
                           AS s
                FROM documents d
                LEFT JOIN besum ON d.doc_id = besum.id, b3),
            begrp AS (
                SELECT source, s,
                       CAST(round(s * 1000000) AS BIGINT) AS si,
                       CAST(count(*) AS BIGINT) AS n_g,
                       CAST(sum(y) AS BIGINT) AS pos_g
                FROM bescored GROUP BY source, s)"""


def oracle_sql() -> dict[str, str]:
    # Gumbel closed-form seam literals — the SAME python doubles the
    # Spark operator multiplies (textual-double-seam recipe): repr()
    # round-trips bit-exactly in both engines' parsers.
    from flood_data_spark.operators.extremes import (
        EULER_GAMMA as _EG, INV_LN2 as _IL, gumbel_variate as _gv)
    _INV_LN2 = repr(_IL)
    _EULER = repr(_EG)
    _GV = {t: repr(_gv(t)) for t in (2, 5, 20, 100)}
    from flood_data_spark.operators.routing import muskingum_coefficients
    _MC0, _MC1, _MC2 = (repr(c) for c in
                        muskingum_coefficients(20.0, 0.2, 24.0))
    _LH_A = repr(0.925)
    _LH_B = repr((1.0 + 0.925) / 2.0)
    # GEV seam strings — built from the SAME constants/templates the
    # operator's F.expr uses, so both engines walk identical IEEE trees
    import math as _mm
    from flood_data_spark.operators.extremes import (
        GEV_K1 as _GK1, GEV_K2 as _GK2, LN2_OVER_LN3 as _L23,
        _gamma1p_sql as _g1p)
    _GEV_C = (f"2.0 / (3.0 + CAST(t3q AS DOUBLE) / 1000000.0) "
              f"- ({_L23!r})")
    _GEV_K = (f"(({_GK1!r}) * (CAST(cq AS DOUBLE) / 1000000.0) "
              f"+ ({_GK2!r}) * (CAST(cq AS DOUBLE) / 1000000.0) "
              f"* (CAST(cq AS DOUBLE) / 1000000.0))")
    _GEV_KD = "(CAST(kq AS DOUBLE) / 1000000.0)"
    _GEV_G = _g1p(_GEV_KD)
    _GEV_GD = "(CAST(gq AS DOUBLE) / 1000000.0)"
    _GEV_L2D = "(CAST(lam2 AS DOUBLE) / 1000000.0)"
    _GEV_SIG = (f"({_GEV_L2D} * {_GEV_KD} / ({_GEV_GD} * (1.0 - "
                f"exp(-({_GEV_KD}) * ({_mm.log(2.0)!r})))))")
    _GEV_SD = "(CAST(sq AS DOUBLE) / 1000000.0)"
    _GEV_XI = f"({_GEV_SD} * ({_GEV_GD} - 1.0) / {_GEV_KD})"
    _GEV_LVL = (f"({_GEV_SD} / {_GEV_KD} * (1.0 - exp({_GEV_KD} "
                f"* p.lyt)))")
    _GEV_LYT = {t: repr(_mm.log(-_mm.log(1.0 - 1.0 / t)))
                for t in (2, 5, 10, 20, 100)}
    # round-14 seam/constant twins: the shared Acklam probit text
    # (IDENTICAL string both engines — single-sourced from the package)
    # and the UH ordinates quantized with the operator's own arithmetic
    from flood_data_spark.functions.distributions import (
        invnorm_sql as _invn)
    _SPI_PROBIT = _invn("(CAST(pq AS DOUBLE) / 1000000.0)")
    _UH_ORDS = (0.05, 0.25, 0.35, 0.2, 0.1, 0.05)
    _UH_VALUES = ", ".join(
        f"({tau}, {int(_mm.copysign(_mm.floor(abs(u) * 1e6 + 0.5), u))})"
        for tau, u in enumerate(_UH_ORDS))
    from flood_data_spark.datapipe.curation import hash_cut as _hc
    _FIM_CUT = _hc(0.4)
    # q_idf rolling blocks: one UNION ALL branch per duration, integer
    # rolling sums over ROWS frames (order-free, engine-safe)
    _IDF_ROLL = "\n                UNION ALL\n".join(f"""
                SELECT cell, blk, {d} AS duration, rs
                FROM (SELECT cell, blk,
                             sum(qv) OVER (PARTITION BY cell
                                           ORDER BY o, qv
                                           ROWS BETWEEN {d - 1}
                                           PRECEDING AND CURRENT ROW)
                                 AS rs,
                             count(*) OVER (PARTITION BY cell
                                            ORDER BY o, qv
                                            ROWS BETWEEN {d - 1}
                                            PRECEDING AND CURRENT ROW)
                                 AS c
                      FROM q0) WHERE c = {d}""" for d in (1, 2, 3))

    def _qseam_sql(expr: str) -> str:
        return (f"CAST(sign({expr}) * floor(abs({expr}) * 1000000e0 "
                f"+ 5e-1) AS BIGINT)")
    import math as _m
    _LNM = {m: str(int(_m.floor(_m.log(m) * 1e6 + 0.5)))
            for m in (16, 64, 256)}
    p2 = "least(1.0, l_discount * 12)"
    # bit-identical z-normalized pattern constants for q_ts_pattern_topk
    # (same python arithmetic the Spark operator runs driver-side)
    zp = ", ".join(repr(x) for x in _znorm(_TS_PATTERN))
    # shared positional-unnest relation for the linalg oracles: 0-based
    # dimension index + float32→double cast, identical to _as_double
    xr = """
        xr AS (
            SELECT vec_id,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS pos
            FROM embeddings)"""
    # micro-quantized twin (linalg._q: sign(x)*floor(|x|*1e6 + 0.5) —
    # pure double IEEE ops, verified bit-identical to Spark codegen and
    # numpy); every corpus-sized linalg sum accumulates these integers
    # in HUGEINT (exact, order-free — the determinism discipline of
    # datapipe/linalg.py, mirrored on both sides)
    qxr = xr + """,
        qr AS (
            SELECT vec_id, pos, x,
                   CAST(sign(x) * floor(abs(x) * 1000000 + 0.5)
                        AS HUGEINT) AS q
            FROM xr)"""

    # integer-space half-up rounding of an EXACT integer ratio num/den
    # (den > 0): sign(num) * ((2*|num| + den) // (2*den)), divided by
    # `disp` for display — the HUGEINT twin of linalg._idiv_half_up
    # (DuckDB `//` truncates toward zero, identical to floor on the
    # non-negative numerator).  This is how every linalg oracle rounds:
    # no round(double) ever runs on a derived value, so the
    # subtract-then-round cancellation hazard that kept q_covariance
    # red in r8-r10 cannot occur on either engine.
    def idiv_int(num: str, den: str) -> str:
        # the raw integer form (HUGEINT), for per-bin/per-cell
        # contributions that keep accumulating exactly
        return (f"(CASE WHEN ({num}) < 0 "
                f"THEN -((2 * (-({num})) + ({den})) // (2 * ({den}))) "
                f"ELSE (2 * ({num}) + ({den})) // (2 * ({den})) END)")

    def idiv_half_up(num: str, den: str, disp: int) -> str:
        return f"CAST({idiv_int(num, den)} AS DOUBLE) / {disp}.0"

    # shared ensemble relation for the verification oracles
    # (_verif_ensemble's twin): members = lineitems per order, obs =
    # o_totalprice/10000 (ONE double division — the identical IEEE
    # tree), both micro-quantized once
    vens = """
        ve AS (
            SELECT l.l_orderkey AS k, o.o_orderpriority AS lead,
                   l.l_quantity AS x, o.o_totalprice / 10000.0 AS y,
                   CAST(sign(l.l_quantity)
                        * floor(abs(l.l_quantity) * 1000000 + 0.5)
                        AS HUGEINT) AS qx,
                   CAST(sign(o.o_totalprice / 10000.0)
                        * floor(abs(o.o_totalprice / 10000.0) * 1000000
                                + 0.5) AS HUGEINT) AS qy
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"""
    # shared normalized-name relation for the fuzzy oracles (the
    # dedup._digest normalization: lower + trim + collapse whitespace)
    fuzzy_name = "lower(regexp_replace(trim(p_name), '\\s+', ' ', 'g'))"
    # the html_to_text regexp ladder restated verbatim (every pattern
    # RE2-safe; newline replacements spliced as chr(10))
    def _html_chain(expr: str) -> str:
        steps = [
            (r"(?is)<script[^>]*>.*?</script>", " "),
            (r"(?is)<style[^>]*>.*?</style>", " "),
            (r"(?s)<!--.*?-->", " "),
            (r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)[^>]*>", "\n"),
            (r"<[^>]+>", " "),
            (r"&lt;", "<"), (r"&gt;", ">"), (r"&quot;", '"'),
            (r"&#39;", "'"), (r"&nbsp;", " "), (r"&amp;", "&"),
            (r"[ \t]+", " "),
            (r" ?\n ?", "\n"),
            (r"\n{2,}", "\n"),
            (r"^\n+", ""), (r"\n+$", ""),
        ]
        for pat, rep in steps:
            pat_sql = pat.replace("'", "''")
            rep_sql = rep.replace("'", "''").replace(
                "\n", "' || chr(10) || '")
            expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
        return f"trim({expr})"

    # the CMS position hash: 13 hex digits of a per-row salted md5, mod
    # width — the same 52-bit arithmetic as sketches._cms_col
    cms_col = ("CAST(('0x' || substr(md5('cms' || {r} || ':' || token), "
               "1, 13)) AS BIGINT) % 512")
    d = {
        # q_ndcg: the q_cosine_topk ranking chain + label-match relevance,
        # micro-rounded 1/log2 gains, the IDCG prefix table regenerated
        # from a series cumsum (same rounded integers as the driver-side
        # literals — the micro-round of an irrational is engine-safe).
        "q_ndcg": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
                FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6)
                           AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored),
            rel AS (
                SELECT DISTINCT q.vec_id AS query_id,
                                c.vec_id AS neighbor_id
                FROM v q JOIN v c
                  ON q.label = c.label AND q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            hits AS (
                SELECT r.query_id,
                       CAST(round(1000000 / log2(r.rank + 1)) AS BIGINT)
                           AS g
                FROM ranked r
                JOIN rel ON r.query_id = rel.query_id
                        AND r.neighbor_id = rel.neighbor_id
                WHERE r.rank <= 10),
            dcg AS (SELECT query_id, CAST(sum(g) AS BIGINT) AS dcg_mu
                    FROM hits GROUP BY query_id),
            den AS (SELECT query_id,
                           CAST(count(*) AS BIGINT) AS n_relevant
                    FROM rel GROUP BY query_id),
            idcg AS (
                SELECT i.i AS nrel,
                       CAST(sum(CAST(round(1000000 / log2(j.j + 1))
                                     AS BIGINT)) AS BIGINT) AS idcg_mu
                FROM generate_series(1, 10) i(i)
                JOIN generate_series(1, 10) j(j) ON j.j <= i.i
                GROUP BY i.i)
            SELECT d.query_id, d.n_relevant,
                   CAST(coalesce(g.dcg_mu, 0) AS BIGINT) AS dcg_mu,
                   ic.idcg_mu,
                   round(CAST(coalesce(g.dcg_mu, 0) AS DOUBLE)
                         / ic.idcg_mu, 6) AS ndcg
            FROM den d
            LEFT JOIN dcg g ON d.query_id = g.query_id
            JOIN idcg ic ON ic.nrel = least(d.n_relevant, 10)
        """,
        # q_kmv_overlap: identical md5-52-bit hashing (the _cms_col
        # DuckDB form), bottom-k via ORDER BY/LIMIT, the same saturated
        # vs exact-count estimator branch, and the bottom-k-of-union
        # Jaccard membership count.
        "q_kmv_overlap": """
            WITH ha AS (
                SELECT DISTINCT CAST(('0x' || substr(md5(
                    'kmv:' || CAST(l_partkey AS VARCHAR)), 1, 13))
                    AS BIGINT) AS h
                FROM lineitem WHERE l_orderkey % 2 = 0),
            hb AS (
                SELECT DISTINCT CAST(('0x' || substr(md5(
                    'kmv:' || CAST(l_partkey AS VARCHAR)), 1, 13))
                    AS BIGINT) AS h
                FROM lineitem WHERE l_orderkey % 2 = 1),
            ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
            kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
            ea AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
                          round(CASE WHEN count(*) < 256
                                THEN CAST(count(*) AS DOUBLE)
                                ELSE (CAST(255 AS DOUBLE)
                                      * CAST(4503599627370496 AS DOUBLE))
                                     / CAST(max(h) AS DOUBLE) END, 6)
                              AS est_a
                   FROM ka),
            eb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
                          round(CASE WHEN count(*) < 256
                                THEN CAST(count(*) AS DOUBLE)
                                ELSE (CAST(255 AS DOUBLE)
                                      * CAST(4503599627370496 AS DOUBLE))
                                     / CAST(max(h) AS DOUBLE) END, 6)
                              AS est_b
                   FROM kb),
            x AS (SELECT h FROM (SELECT h FROM ka UNION
                                 SELECT h FROM kb)
                  ORDER BY h LIMIT 256),
            j AS (SELECT CAST((SELECT count(*) FROM x) AS BIGINT)
                             AS n_union_kept,
                         CAST((SELECT count(*) FROM x
                               WHERE h IN (SELECT h FROM ka)
                                 AND h IN (SELECT h FROM kb))
                              AS BIGINT) AS n_both)
            SELECT ea.n_a, ea.est_a, eb.n_b, eb.est_b, j.n_union_kept,
                   j.n_both,
                   round(CAST(j.n_both AS DOUBLE) / j.n_union_kept, 6)
                       AS jaccard
            FROM ea, eb, j
        """,
        # q_bitext_mine: dense src×tgt scored once with the identical
        # micro-unit cosine (incl. the 1e-300 zero-norm guard), both
        # direction ranks, exact k-NN sums, the same margin double tree.
        "q_bitext_mine": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            s AS (SELECT vec_id AS src_id, e FROM v WHERE vec_id % 2 = 0),
            t AS (SELECT vec_id AS tgt_id, e FROM v WHERE vec_id % 2 = 1),
            scored AS (
                SELECT src_id, tgt_id,
                       CAST(round(list_dot_product(s.e, t.e)
                                  / greatest(
                                      sqrt(list_dot_product(s.e, s.e))
                                      * sqrt(list_dot_product(t.e, t.e)),
                                      1e-300)
                                  * 1000000) AS BIGINT) AS cosine_mu
                FROM s, t),
            ranked AS (
                SELECT *,
                       row_number() OVER (PARTITION BY src_id
                           ORDER BY cosine_mu DESC, tgt_id ASC) AS rs,
                       row_number() OVER (PARTITION BY tgt_id
                           ORDER BY cosine_mu DESC, src_id ASC) AS rt
                FROM scored),
            ss AS (SELECT src_id, CAST(sum(cosine_mu) AS BIGINT) AS ssum,
                          CAST(count(*) AS BIGINT) AS sk
                   FROM ranked WHERE rs <= 4 GROUP BY src_id),
            ts AS (SELECT tgt_id, CAST(sum(cosine_mu) AS BIGINT) AS tsum,
                          CAST(count(*) AS BIGINT) AS tk
                   FROM ranked WHERE rt <= 4 GROUP BY tgt_id)
            SELECT r.src_id, r.tgt_id, r.cosine_mu,
                   round(CAST(r.cosine_mu AS DOUBLE)
                         / ((CAST(ss.ssum AS DOUBLE) / ss.sk
                             + CAST(ts.tsum AS DOUBLE) / ts.tk) / 2.0),
                         6) AS margin
            FROM ranked r
            JOIN ss ON r.src_id = ss.src_id
            JOIN ts ON r.tgt_id = ts.tgt_id
            WHERE r.rs = 1 AND r.rt = 1
        """,
        # q_item_cf: the same capped-basket relation, pair counts, and
        # cosine-from-integer-counts expression, rank over the round-6
        # value with the identical tiebreak.
        "q_item_cf": """
            WITH raw AS (
                SELECT DISTINCT o_custkey AS u, l_partkey AS i
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            b AS (SELECT u, i FROM (
                      SELECT u, i, row_number() OVER (
                          PARTITION BY u ORDER BY i ASC) AS rk
                      FROM raw) WHERE rk <= 40),
            pc AS (SELECT a.i AS ia, c.i AS ib,
                          CAST(count(*) AS BIGINT) AS n_common
                   FROM b a JOIN b c ON a.u = c.u AND a.i < c.i
                   GROUP BY a.i, c.i
                   HAVING count(*) >= 3),
            deg AS (SELECT i, CAST(count(*) AS BIGINT) AS n
                    FROM b GROUP BY i),
            sim AS (SELECT pc.ia AS item_a, pc.ib AS item_b, pc.n_common,
                           da.n AS n_a, db.n AS n_b,
                           round(CAST(pc.n_common AS DOUBLE)
                                 / sqrt(CAST(da.n AS DOUBLE)
                                        * CAST(db.n AS DOUBLE)), 6)
                               AS cosine
                    FROM pc JOIN deg da ON pc.ia = da.i
                            JOIN deg db ON pc.ib = db.i),
            sym AS (SELECT item_a AS item, item_b AS neighbor, cosine
                    FROM sim
                    UNION ALL
                    SELECT item_b, item_a, cosine FROM sim),
            rk AS (SELECT *, row_number() OVER (
                       PARTITION BY item
                       ORDER BY cosine DESC, neighbor ASC) AS r
                   FROM sym)
            SELECT item, neighbor, cosine, CAST(r AS INT) AS rank
            FROM rk WHERE r <= 5
        """,
        # q_acf: the lead-window pair relation restated as a row-number
        # self-join; identical exact-integer moment sums and the same
        # fixed double expression tree for the correlation.
        "q_acf": """
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                            AS DOUBLE) / count(*) / 1000000 AS m
                FROM events GROUP BY event_type, CAST(ts AS DATE)),
            mu AS (SELECT event_type, day,
                          CAST(round(m * 1000000) AS BIGINT) AS x
                   FROM daily),
            rn AS (SELECT event_type, x,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY day) AS i
                   FROM mu),
            pr AS (SELECT a.event_type, CAST(b.i - a.i AS INT) AS lag,
                          a.x AS x, b.x AS y
                   FROM rn a JOIN rn b
                     ON a.event_type = b.event_type
                    AND b.i - a.i BETWEEN 1 AND 7),
            s AS (SELECT event_type, lag,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy,
                         CAST(sum(x * y) AS BIGINT) AS sxy
                  FROM pr GROUP BY event_type, lag)
            SELECT event_type, lag, n,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / nullif(sqrt((CAST(n AS DOUBLE)
                                        * CAST(sxx AS DOUBLE)
                                        - CAST(sx AS DOUBLE)
                                          * CAST(sx AS DOUBLE))
                                       * (CAST(n AS DOUBLE)
                                          * CAST(syy AS DOUBLE)
                                          - CAST(sy AS DOUBLE)
                                            * CAST(sy AS DOUBLE))), 0.0),
                         6) AS acf
            FROM s
        """,
        # q_tree_stump: quantile_cont boundaries (the equidepth
        # bit-identity contract), the same observed-bucket inner join,
        # and the identical weighted-Gini double tree micro-rounded.
        "q_tree_stump": """
            WITH b AS (
                SELECT 'l_quantity' AS feature,
                       quantile_cont(l_quantity, [0.125, 0.25, 0.375, 0.5,
                                                  0.625, 0.75, 0.875]) AS bs
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice',
                       quantile_cont(l_extendedprice,
                                     [0.125, 0.25, 0.375, 0.5, 0.625,
                                      0.75, 0.875])
                FROM lineitem
                UNION ALL
                SELECT 'l_discount',
                       quantile_cont(l_discount,
                                     [0.125, 0.25, 0.375, 0.5, 0.625,
                                      0.75, 0.875])
                FROM lineitem),
            vals AS (
                SELECT 'l_quantity' AS feature, l_quantity AS x,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', l_extendedprice,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                FROM lineitem
                UNION ALL
                SELECT 'l_discount', l_discount,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                FROM lineitem),
            bucketed AS (
                SELECT v.feature,
                       CAST(1 + len(list_filter(b.bs, t -> v.x > t))
                            AS INT) AS bucket,
                       v.y
                FROM vals v JOIN b ON v.feature = b.feature),
            cells AS (SELECT feature, bucket,
                             CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(y) AS BIGINT) AS np
                      FROM bucketed GROUP BY feature, bucket),
            cum AS (SELECT feature, bucket,
                           CAST(sum(n) OVER (PARTITION BY feature
                                             ORDER BY bucket) AS BIGINT)
                               AS n_left,
                           CAST(sum(np) OVER (PARTITION BY feature
                                              ORDER BY bucket) AS BIGINT)
                               AS pos_left,
                           CAST(sum(n) OVER (PARTITION BY feature)
                                AS BIGINT) AS nt,
                           CAST(sum(np) OVER (PARTITION BY feature)
                                AS BIGINT) AS pt
                    FROM cells),
            thr AS (SELECT feature,
                           CAST(generate_subscripts(bs, 1) AS INT)
                               AS bucket,
                           unnest(bs) AS threshold
                    FROM b),
            cand AS (
                SELECT c.feature, c.bucket, t.threshold, c.n_left,
                       c.nt - c.n_left AS n_right, c.pos_left,
                       c.pt - c.pos_left AS pos_right
                FROM cum c JOIN thr t
                  ON c.feature = t.feature AND c.bucket = t.bucket
                WHERE c.n_left > 0 AND c.nt - c.n_left > 0),
            g AS (
                SELECT feature, bucket, threshold, n_left, n_right,
                       pos_left, pos_right,
                       CAST(round(
                           (CAST(n_left AS DOUBLE)
                            * (1.0 - ((pos_left / CAST(n_left AS DOUBLE))
                                      * (pos_left / CAST(n_left AS DOUBLE))
                                      + (1.0 - pos_left
                                               / CAST(n_left AS DOUBLE))
                                        * (1.0 - pos_left
                                                 / CAST(n_left AS DOUBLE))))
                            + CAST(n_right AS DOUBLE)
                              * (1.0 - ((pos_right
                                         / CAST(n_right AS DOUBLE))
                                        * (pos_right
                                           / CAST(n_right AS DOUBLE))
                                        + (1.0 - pos_right
                                                 / CAST(n_right AS DOUBLE))
                                          * (1.0 - pos_right
                                                   / CAST(n_right
                                                          AS DOUBLE)))))
                           / (CAST(n_left AS DOUBLE)
                              + CAST(n_right AS DOUBLE))
                           * 1000000) AS BIGINT) AS split_gini_micro
                FROM cand),
            rk AS (SELECT *, row_number() OVER (
                       PARTITION BY feature
                       ORDER BY split_gini_micro ASC, feature ASC,
                                bucket ASC) AS r
                   FROM g)
            SELECT feature, bucket, threshold, n_left, n_right, pos_left,
                   pos_right, split_gini_micro
            FROM rk WHERE r = 1
        """,
        # q_target_encode: identical operator arithmetic — integer
        # micro-unit target sums, global mean as DOUBLE/DOUBLE/1e6 (the
        # float()-before-divide contract in features.target_encoding),
        # enc with the same (a/1e6 + m*g)/(n+m) expression tree.
        "q_target_encode": """
            WITH per_cat AS (
                SELECT o_orderpriority, o_orderstatus,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST(round(o_totalprice * 1000000)
                                     AS BIGINT)) AS BIGINT)
                           AS target_sum_micro
                FROM orders GROUP BY o_orderpriority, o_orderstatus),
            gm AS (SELECT CAST(sum(target_sum_micro) AS DOUBLE)
                          / CAST(sum(n) AS DOUBLE) / 1000000 AS g
                   FROM per_cat)
            SELECT p.o_orderpriority, p.o_orderstatus, p.n,
                   p.target_sum_micro,
                   (p.target_sum_micro / 1000000 + 20.0 * gm.g)
                   / (p.n + 20.0) AS enc
            FROM per_cat p, gm
        """,
        # q_loo_encode: (sum_c - y_i)/(n_c - 1)/1e6 over exact integer
        # micro sums; NULL when the category is a singleton.
        "q_loo_encode": """
            WITH li AS (
                SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                       CAST(round(l_quantity * 1000000) AS BIGINT) AS y
                FROM lineitem WHERE l_orderkey < 800),
            per_cat AS (
                SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(y) AS BIGINT) AS s
                FROM li GROUP BY l_returnflag)
            SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
                   li.l_quantity,
                   CASE WHEN p.n > 1
                        THEN (p.s - li.y) / (p.n - 1) / 1000000 END AS loo
            FROM li JOIN per_cat p ON li.l_returnflag = p.l_returnflag
        """,
        # q_woe_encode: Laplace-smoothed class shares with the scalar
        # denominators formed the same way as the operator's python
        # floats (double(tot) + 0.5 * k); ln and iv rounded ONCE to
        # integer micro-nats.
        "q_woe_encode": """
            WITH per_cat AS (
                SELECT source,
                       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_pos,
                       CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_neg
                FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(n_pos) AS DOUBLE) + 0.5 * count(*)
                               AS pos_den,
                           CAST(sum(n_neg) AS DOUBLE) + 0.5 * count(*)
                               AS neg_den
                    FROM per_cat),
            sh AS (SELECT p.source, p.n_pos, p.n_neg,
                          (p.n_pos + 0.5) / t.pos_den AS ps,
                          (p.n_neg + 0.5) / t.neg_den AS ns
                   FROM per_cat p, tot t)
            SELECT source, n_pos, n_neg,
                   CAST(round((ln(ps) - ln(ns)) * 1000000) AS BIGINT)
                       AS woe_micro,
                   CAST(round((ps - ns) * (ln(ps) - ln(ns)) * 1000000)
                        AS BIGINT) AS iv_micro
            FROM sh
        """,
        # q_dim_stats: exact HUGEINT micro sums (sum q, sum q^2);
        # mean and variance round IN INTEGER SPACE (idiv_half_up —
        # mean*1e6 = half_up(s1/n), var*1e6 = half_up((s2*n - s1^2) /
        # (n^2*1e6)); the variance cancellation happens between exact
        # integers, identical to linalg.dim_stats; never var_pop, never
        # a raw double sum, never round(double))
        "q_dim_stats": f"""
            WITH {qxr},
            st AS (SELECT pos, CAST(count(*) AS HUGEINT) AS nh,
                          sum(q) AS s1, sum(q * q) AS s2,
                          min(x) AS vmin, max(x) AS vmax
                   FROM qr GROUP BY pos)
            SELECT pos, CAST(nh AS BIGINT) AS n,
                   {idiv_half_up('s1', 'nh', 1000000)} AS mean,
                   {idiv_half_up('s2 * nh - s1 * s1',
                                 'nh * nh * 1000000', 1000000)}
                       AS variance,
                   vmin, vmax
            FROM st
        """,
        # q_gram_matrix: the exact integer Gram restated relationally —
        # positional unnest self-joined on the row id, HUGEINT q*q sums
        # (order-free), then integer-space round-4: val*1e4 =
        # half_up(qsum / 1e8) (identical to linalg.gram_matrix's
        # _idiv_half_up path)
        "q_gram_matrix": f"""
            WITH {qxr}
            SELECT a.pos AS i, b.pos AS j,
                   {idiv_half_up('sum(a.q * b.q)', '100000000', 10000)}
                       AS val
            FROM qr a JOIN qr b
              ON a.vec_id = b.vec_id AND a.pos <= b.pos
            GROUP BY a.pos, b.pos
        """,
        # q_power_iteration: both iterations unrolled in the EXACT
        # integer kernel of linalg._xtx_apply — y = sum(q * mv) and
        # z = sum(q * y) ride HUGEINT (order-free), each z descaled by
        # 1e18 (micro^3) via the same CAST-then-divide two-step as the
        # driver, normalized and rounded to 6 before the next round.
        # v0 = round(1/sqrt(64), 6) = 0.125 → mv0 = 125000 exactly;
        # v1's micro form re-quantizes the round-6 double (within 1 ulp
        # of an integer — no half-boundary exposure).
        "q_power_iteration": f"""
            WITH {qxr},
            y1 AS (SELECT vec_id, sum(q * 125000) AS y
                   FROM qr GROUP BY vec_id),
            z1 AS (SELECT a.pos,
                          CAST(sum(a.q * y1.y) AS DOUBLE)
                              / 1000000000000000000.0 AS z
                   FROM qr a JOIN y1 ON a.vec_id = y1.vec_id
                   GROUP BY a.pos),
            n1 AS (SELECT sqrt(sum(z * z)) AS nrm FROM z1),
            v1 AS (SELECT pos,
                          CAST(round(round(z / nrm, 6) * 1000000)
                               AS HUGEINT) AS mv
                   FROM z1, n1),
            y2 AS (SELECT a.vec_id, sum(a.q * v1.mv) AS y
                   FROM qr a JOIN v1 ON a.pos = v1.pos
                   GROUP BY a.vec_id),
            z2 AS (SELECT a.pos,
                          CAST(sum(a.q * y2.y) AS DOUBLE)
                              / 1000000000000000000.0 AS z
                   FROM qr a JOIN y2 ON a.vec_id = y2.vec_id
                   GROUP BY a.pos),
            n2 AS (SELECT sqrt(sum(z * z)) AS nrm FROM z2)
            SELECT pos, round(z / nrm, 6) AS component FROM z2, n2
        """,
        # q_covariance: the whole cell is ONE exact integer ratio —
        # val = (qsum*n - s1_i*s1_j) / (n^2 * 1e12) — rounded to 6 in
        # INTEGER space (val*1e6 = half_up(num / (n^2*1e6)) via HUGEINT
        # //), term-for-term the linalg.covariance_matrix expression.
        # No double is ever rounded, so the subtract-then-round
        # cancellation divergence that kept this gate red in r8-r10 is
        # structurally impossible.
        "q_covariance": f"""
            WITH {qxr},
            g AS (SELECT a.pos AS i, b.pos AS j, sum(a.q * b.q) AS s
                  FROM qr a JOIN qr b
                    ON a.vec_id = b.vec_id AND a.pos <= b.pos
                  GROUP BY a.pos, b.pos),
            st AS (SELECT pos, sum(q) AS s1,
                          CAST(count(*) AS HUGEINT) AS n
                   FROM qr GROUP BY pos)
            SELECT g.i, g.j,
                   {idiv_half_up('g.s * si.n - si.s1 * sj.s1',
                                 'si.n * si.n * 1000000', 1000000)}
                       AS val
            FROM g JOIN st si ON g.i = si.pos
                   JOIN st sj ON g.j = sj.pos
        """,
        # q_crps: DIFFERENTIAL oracle — the pairwise term is brute
        # force (rn < rn self-join over the ≤7-member ensembles), so
        # DuckDB checks the Spark side's sorted-rank identity
        # Σ_{i<j}|x_i−x_j| = Σ(2i−1−m)·x_(i) against the definition;
        # the final score is the same integer-space half_up of
        # (sae·m − pair)/m²
        "q_crps": f"""
            WITH {vens},
            e2 AS (SELECT k, qx, qy,
                          row_number() OVER (PARTITION BY k
                                             ORDER BY qx) AS rn
                   FROM ve),
            a AS (SELECT k, CAST(count(*) AS HUGEINT) AS m,
                         sum(abs(qx - qy)) AS sae
                  FROM ve GROUP BY k),
            p AS (SELECT x.k, sum(abs(x.qx - y.qx)) AS pair
                  FROM e2 x JOIN e2 y ON x.k = y.k AND x.rn < y.rn
                  GROUP BY x.k)
            SELECT a.k AS l_orderkey, CAST(a.m AS BIGINT) AS m,
                   {idiv_half_up('a.sae * a.m - COALESCE(p.pair, 0)',
                                 'a.m * a.m', 1000000)} AS crps
            FROM a LEFT JOIN p ON a.k = p.k
        """,
        # q_crps_decomp: the Hersbach interval CASE ladder restated on
        # the ranked relation (rn = m outliers first so the NULL lead
        # never reaches a comparison), per-rank HUGEINT half_up
        # contributions at 1e-12 resolution, integer-space finals
        "q_crps_decomp": f"""
            WITH {vens},
            e2 AS (SELECT k, qx, qy,
                          row_number() OVER (PARTITION BY k
                                             ORDER BY qx) AS rn,
                          lead(qx) OVER (PARTITION BY k
                                         ORDER BY qx) AS qn,
                          CAST(count(*) OVER (PARTITION BY k)
                               AS HUGEINT) AS m
                   FROM ve),
            iv AS (
                SELECT m, CAST(rn AS HUGEINT) AS i,
                       CAST(CASE WHEN rn = m THEN greatest(qy - qx, 0)
                                 WHEN qy >= qn THEN qn - qx
                                 WHEN qy <= qx THEN 0
                                 ELSE qy - qx END AS HUGEINT) AS av,
                       CAST(CASE WHEN rn = m THEN 0
                                 WHEN qy >= qn THEN 0
                                 WHEN qy <= qx THEN qn - qx
                                 ELSE qn - qy END AS HUGEINT) AS bv
                FROM e2
                UNION ALL
                SELECT m, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT),
                       CAST(greatest(qx - qy, 0) AS HUGEINT)
                FROM e2 WHERE rn = 1),
            br AS (SELECT m, i, CAST(count(*) AS HUGEINT) AS n,
                          sum(av) AS sa, sum(bv) AS sb
                   FROM iv GROUP BY m, i),
            pm AS (SELECT m, max(n) AS nc,
                          sum(sa * i * i
                              + sb * (m - i) * (m - i)) AS cn,
                          sum(CASE WHEN sa + sb > 0 THEN
                              {idiv_int(
                                  '(sb * m - i * (sa + sb))'
                                  ' * (sb * m - i * (sa + sb))'
                                  ' * 1000000',
                                  'n * m * m * (sa + sb)')}
                              ELSE 0 END) AS ru,
                          sum(CASE WHEN sa + sb > 0 THEN
                              {idiv_int('sa * sb * 1000000',
                                        'n * (sa + sb)')}
                              ELSE 0 END) AS pu
                   FROM br GROUP BY m)
            SELECT CAST(m AS BIGINT) AS m, CAST(nc AS BIGINT) AS n_cells,
                   {idiv_half_up('cn', 'nc * m * m', 1000000)} AS crps,
                   {idiv_half_up('ru', '1000000', 1000000)}
                       AS reliability,
                   {idiv_half_up('pu', '1000000', 1000000)} AS crps_pot
            FROM pm
        """,
        # q_ece_cells: BOTH ECE chains mirrored separately — the
        # classifier ladder (si = round(p·1e6), bin = si·10 // 1e6
        # clamped, round(double) final — the q_clf_eval idiom) and the
        # verification ladder (floor-bin on the double, micro
        # quantization, integer-space half_up final)
        "q_ece_cells": f"""
            WITH src AS (
                SELECT ((l_partkey % 100) + 0.5) / 100.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            cq AS (SELECT CAST(round(p * 1000000) AS HUGEINT) AS si,
                          CAST(o AS HUGEINT) AS o
                   FROM src),
            cb AS (SELECT greatest(least((si * 10) // 1000000, 9), 0)
                              AS bin,
                          CAST(count(*) AS HUGEINT) AS n_b,
                          sum(si) AS ssi, sum(o) AS pos_b
                   FROM cq GROUP BY 1),
            ce AS (SELECT round(CAST(sum(abs(ssi - pos_b * 1000000))
                                     AS DOUBLE)
                                / (CAST(sum(n_b) AS DOUBLE)
                                   * 1000000.0), 6) AS ece_clf
                   FROM cb),
            vq AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS b,
                          CAST(sign(p) * floor(abs(p) * 1000000 + 0.5)
                               AS HUGEINT) AS qp,
                          CAST(o AS HUGEINT) AS o
                   FROM src),
            vg AS (SELECT b, CAST(count(*) AS HUGEINT) AS nk,
                          sum(qp) AS sp, sum(o) AS so
                   FROM vq GROUP BY b),
            vt AS (SELECT sum(abs(sp - 1000000 * so)) AS d,
                          sum(nk) AS nn
                   FROM vg)
            SELECT ce.ece_clf,
                   {idiv_half_up('vt.d', 'vt.nn', 1000000)} AS ece_cells
            FROM ce, vt
        """,
        # q_contingency_scores: the 2x2 table counts and each skill
        # ratio restated in HUGEINT, NULL on zero denominators
        "q_contingency_scores": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            t AS (SELECT
                    CAST(sum(CASE WHEN p >= 0.5 AND o = 1 THEN 1
                             ELSE 0 END) AS HUGEINT) AS a,
                    CAST(sum(CASE WHEN p >= 0.5 AND o = 0 THEN 1
                             ELSE 0 END) AS HUGEINT) AS b,
                    CAST(sum(CASE WHEN p < 0.5 AND o = 1 THEN 1
                             ELSE 0 END) AS HUGEINT) AS c,
                    CAST(sum(CASE WHEN p < 0.5 AND o = 0 THEN 1
                             ELSE 0 END) AS HUGEINT) AS d
                  FROM src)
            SELECT CAST(a + b + c + d AS BIGINT) AS n,
                   CAST(a AS BIGINT) AS hits,
                   CAST(b AS BIGINT) AS false_alarms,
                   CAST(c AS BIGINT) AS misses,
                   CAST(d AS BIGINT) AS correct_negatives,
                   CASE WHEN a + c > 0 THEN
                        {idiv_half_up('a * 1000000', 'a + c', 1000000)}
                   END AS pod,
                   CASE WHEN a + b > 0 THEN
                        {idiv_half_up('b * 1000000', 'a + b', 1000000)}
                   END AS far,
                   CASE WHEN a + b + c > 0 THEN
                        {idiv_half_up('a * 1000000', 'a + b + c',
                                      1000000)}
                   END AS csi,
                   CASE WHEN a + c > 0 THEN
                        {idiv_half_up('(a + b) * 1000000', 'a + c',
                                      1000000)}
                   END AS bias,
                   CASE WHEN (a + c) * (b + d) > 0 THEN
                        {idiv_half_up('(a * d - b * c) * 1000000',
                                      '(a + c) * (b + d)', 1000000)}
                   END AS peirce,
                   CASE WHEN (a + b + c) * (a + b + c + d)
                             - (a + b) * (a + c) > 0 THEN
                        {idiv_half_up(
                            '(a * (a + b + c + d)'
                            ' - (a + b) * (a + c)) * 1000000',
                            '(a + b + c) * (a + b + c + d)'
                            ' - (a + b) * (a + c)', 1000000)}
                   END AS ets,
                   CASE WHEN (a + c) * (c + d) + (a + b) * (b + d)
                             > 0 THEN
                        {idiv_half_up(
                            '2 * (a * d - b * c) * 1000000',
                            '(a + c) * (c + d) + (a + b) * (b + d)',
                            1000000)}
                   END AS hss
            FROM t
        """,
        # q_quantile_score: per-cell quantile_cont (bit-identical to
        # Spark percentile), pinball loss as the exact integer
        # 100·loss = (qy − qq)(100·tau − 100·ind), one half_up mean
        "q_quantile_score": f"""
            WITH {vens},
            q AS (SELECT k, min(y) AS y,
                         quantile_cont(x, 0.1) AS q10,
                         quantile_cont(x, 0.5) AS q50,
                         quantile_cont(x, 0.9) AS q90
                  FROM ve GROUP BY k),
            e AS (
                SELECT 0.1 AS tau, 10 AS ht, q10 AS qv, y FROM q
                UNION ALL
                SELECT 0.5, 50, q50, y FROM q
                UNION ALL
                SELECT 0.9, 90, q90, y FROM q),
            m AS (SELECT tau,
                         CAST(sign(qv) * floor(abs(qv) * 1000000 + 0.5)
                              AS HUGEINT) AS qq,
                         CAST(sign(y) * floor(abs(y) * 1000000 + 0.5)
                              AS HUGEINT) AS qy,
                         ht
                  FROM e),
            s AS (SELECT tau, CAST(count(*) AS HUGEINT) AS n,
                         sum((qy - qq) * (ht - 100 * CASE WHEN qy < qq
                             THEN 1 ELSE 0 END)) AS sl
                  FROM m GROUP BY tau)
            SELECT tau, CAST(n AS BIGINT) AS n_cells,
                   {idiv_half_up('sl', 'n * 100', 1000000)} AS qscore
            FROM s
        """,
        # q_isotonic: the PAV minimax closed form restated — prefix
        # sums over the q_brier_decomp bin cells, i<=k<=j interval
        # rates at 1e-12 integer resolution, grouped min then max
        "q_isotonic": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            c AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS b,
                         CAST(count(*) AS HUGEINT) AS nk,
                         CAST(sum(o) AS HUGEINT) AS so_k
                  FROM src GROUP BY 1),
            pf AS (SELECT b, nk, so_k,
                          sum(nk) OVER (ORDER BY b) AS cn,
                          sum(so_k) OVER (ORDER BY b) AS cs
                   FROM c),
            lo AS (SELECT b AS i, cn - nk AS cn0, cs - so_k AS cs0
                   FROM pf),
            hi AS (SELECT b AS j, cn AS cn1, cs AS cs1 FROM pf),
            pr AS (SELECT i, j,
                          {idiv_int('(cs1 - cs0) * 1000000000000',
                                    'cn1 - cn0')} AS r
                   FROM lo, hi WHERE i <= j),
            mn AS (SELECT k.b AS kb, pr.i, min(pr.r) AS mnr
                   FROM c k JOIN pr ON pr.i <= k.b AND k.b <= pr.j
                   GROUP BY 1, 2),
            mx AS (SELECT kb, max(mnr) AS iso FROM mn GROUP BY kb)
            SELECT c.b AS bin, CAST(c.nk AS BIGINT) AS n,
                   {idiv_half_up('c.so_k * 1000000', 'c.nk', 1000000)}
                       AS o_rate,
                   {idiv_half_up('mx.iso', '1000000', 1000000)}
                       AS iso_rate
            FROM c JOIN mx ON c.b = mx.kb
        """,
        # q_energy_score: cell-bounded pairwise Euclidean norms
        # (list_distance mirrors the left-fold + IEEE sqrt), each norm
        # micro-quantized once, ES as one exact integer ratio
        "q_energy_score": f"""
            WITH v AS (SELECT vec_id % 50 AS cell, vec_id,
                              CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            ov AS (SELECT cell, min(vec_id) AS ovid FROM v GROUP BY 1),
            obs AS (SELECT ov.cell, v.e AS y
                    FROM ov JOIN v ON v.vec_id = ov.ovid),
            mem AS (SELECT v.cell, v.vec_id, v.e
                    FROM v JOIN ov ON v.cell = ov.cell
                    WHERE v.vec_id <> ov.ovid),
            t1 AS (SELECT m.cell, CAST(count(*) AS HUGEINT) AS mm,
                          sum(CAST(floor(list_distance(m.e, obs.y)
                                         * 1000000 + 0.5) AS HUGEINT))
                              AS s1
                   FROM mem m JOIN obs ON m.cell = obs.cell
                   GROUP BY 1),
            t2 AS (SELECT a.cell,
                          sum(CAST(floor(list_distance(a.e, b.e)
                                         * 1000000 + 0.5) AS HUGEINT))
                              AS s2
                   FROM mem a JOIN mem b
                        ON a.cell = b.cell AND a.vec_id < b.vec_id
                   GROUP BY 1)
            SELECT t1.cell, CAST(t1.mm AS BIGINT) AS m,
                   {idiv_half_up('t1.s1 * t1.mm - COALESCE(t2.s2, 0)',
                                 't1.mm * t1.mm', 1000000)} AS energy
            FROM t1 LEFT JOIN t2 ON t1.cell = t2.cell
        """,
        # q_image_ahash: every hash bit recomputed analytically — the
        # pixel closed form, the exact /64 grid mean, strict >, and the
        # MSB-first hi/lo packing as integer bit sums
        "q_image_ahash": """
            WITH g AS (SELECT i, j FROM generate_series(0, 7) AS a(i),
                                        generate_series(0, 7) AS b(j)),
            px AS (SELECT d.doc_id, g.i, g.j,
                          CASE WHEN d.doc_id >= 60 AND g.i = 0
                                    AND g.j = 0
                               THEN ((d.doc_id % 20) * 11 + 3) % 256
                               ELSE ((d.doc_id % 20) * 11 + g.i * 16
                                     + g.j * 5) % 256 END AS v
                   FROM documents d, g WHERE d.doc_id < 100),
            m AS (SELECT doc_id, avg(CAST(v AS DOUBLE)) AS mu
                  FROM px GROUP BY doc_id),
            bits AS (SELECT px.doc_id, px.i * 8 + px.j AS idx,
                            CASE WHEN px.v > m.mu THEN 1 ELSE 0 END
                                AS bit
                     FROM px JOIN m ON px.doc_id = m.doc_id)
            SELECT doc_id,
                   CAST(sum(CASE WHEN idx < 32
                            THEN bit * (CAST(1 AS BIGINT)
                                        << (31 - idx))
                            ELSE 0 END) AS BIGINT) AS ahash_hi,
                   CAST(sum(CASE WHEN idx >= 32
                            THEN bit * (CAST(1 AS BIGINT)
                                        << (63 - idx))
                            ELSE 0 END) AS BIGINT) AS ahash_lo,
                   CAST(sum(bit) AS INT) AS n_set
            FROM bits GROUP BY doc_id
        """,
        # q_ahash_pairs: brute-force ALL pairs over the analytic hashes
        # — the banding-losslessness differential
        "q_ahash_pairs": """
            WITH g AS (SELECT i, j FROM generate_series(0, 7) AS a(i),
                                        generate_series(0, 7) AS b(j)),
            px AS (SELECT d.doc_id, g.i, g.j,
                          CASE WHEN d.doc_id >= 60 AND g.i = 0
                                    AND g.j = 0
                               THEN ((d.doc_id % 20) * 11 + 3) % 256
                               ELSE ((d.doc_id % 20) * 11 + g.i * 16
                                     + g.j * 5) % 256 END AS v
                   FROM documents d, g WHERE d.doc_id < 100),
            m AS (SELECT doc_id, avg(CAST(v AS DOUBLE)) AS mu
                  FROM px GROUP BY doc_id),
            bits AS (SELECT px.doc_id, px.i * 8 + px.j AS idx,
                            CASE WHEN px.v > m.mu THEN 1 ELSE 0 END
                                AS bit
                     FROM px JOIN m ON px.doc_id = m.doc_id),
            hs AS (SELECT doc_id,
                          CAST(sum(CASE WHEN idx < 32
                               THEN bit * (CAST(1 AS BIGINT)
                                           << (31 - idx))
                               ELSE 0 END) AS BIGINT) AS hi,
                          CAST(sum(CASE WHEN idx >= 32
                               THEN bit * (CAST(1 AS BIGINT)
                                           << (63 - idx))
                               ELSE 0 END) AS BIGINT) AS lo
                   FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.hi, b.hi))
                        + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
            FROM hs a JOIN hs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.hi, b.hi))
                  + bit_count(xor(a.lo, b.lo)) <= 3
        """,
        # q_dm_test: exact integer loss differentials, per-factor sqrt
        # quantization, sign-aware half_up
        "q_dm_test": f"""
            WITH src AS (
                SELECT o.o_orderpriority AS lead,
                       abs(l.l_quantity
                           - o.o_totalprice / 10000.0) AS la,
                       abs(l.l_extendedprice / 2000.0
                           - o.o_totalprice / 10000.0) AS lb
                FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
            q AS (SELECT lead,
                         CAST(sign(la) * floor(abs(la) * 1000000 + 0.5)
                              AS HUGEINT)
                         - CAST(sign(lb) * floor(abs(lb) * 1000000
                                                 + 0.5) AS HUGEINT)
                             AS qd
                  FROM src),
            g AS (SELECT lead, CAST(count(*) AS HUGEINT) AS n,
                         sum(qd) AS s, sum(qd * qd) AS ss
                  FROM q GROUP BY lead),
            f AS (SELECT lead, n, s,
                         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000
                                    + 0.5) AS HUGEINT) AS qsn,
                         CAST(floor(sqrt(CAST(ss * n - s * s
                                              AS DOUBLE)) + 0.5)
                              AS HUGEINT) AS qsa
                  FROM g)
            SELECT lead, CAST(n AS BIGINT) AS n,
                   {idiv_half_up('s', 'n', 1000000)} AS mean_diff,
                   CASE WHEN qsa > 0 THEN
                        {idiv_half_up('s * qsn', 'qsa', 1000000)}
                   END AS dm_stat
            FROM f
        """,
        # q_msprt: the identical double tree over DuckDB window
        # cumulative sums — logLam quantized once to micro-nats,
        # sticky decision + always-valid p from the running max;
        # threshold 2995732 = round(ln(1/0.05)*1e6)
        "q_msprt": """
            WITH src AS (
                SELECT o_orderpriority AS priority,
                       date_trunc('month', o_orderdate) AS peek,
                       CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END
                           AS variant,
                       CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END
                           AS success
                FROM orders),
            counts AS (
                SELECT priority, peek, variant,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(success) AS BIGINT) AS x
                FROM src GROUP BY 1, 2, 3),
            per_peek AS (
                SELECT priority, peek,
                       sum(CASE WHEN variant = 'A' THEN n ELSE 0 END)
                           AS na_d,
                       sum(CASE WHEN variant = 'A' THEN x ELSE 0 END)
                           AS xa_d,
                       sum(CASE WHEN variant = 'B' THEN n ELSE 0 END)
                           AS nb_d,
                       sum(CASE WHEN variant = 'B' THEN x ELSE 0 END)
                           AS xb_d
                FROM counts GROUP BY 1, 2),
            cum AS (
                SELECT priority, peek,
                       CAST(sum(na_d) OVER w AS BIGINT) AS n_a,
                       CAST(sum(xa_d) OVER w AS BIGINT) AS x_a,
                       CAST(sum(nb_d) OVER w AS BIGINT) AS n_b,
                       CAST(sum(xb_d) OVER w AS BIGINT) AS x_b
                FROM per_peek
                WINDOW w AS (PARTITION BY priority ORDER BY peek
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)),
            ll AS (
                SELECT *,
                       CASE WHEN n_a > 0 AND n_b > 0 AND (x_a + x_b) > 0
                                 AND (x_a + x_b) < (n_a + n_b) THEN
                           CAST(round(
                             (5e-1 * ln((((x_a + x_b) / cast(n_a + n_b as double)) * (1e0 - ((x_a + x_b) / cast(n_a + n_b as double))) * (1e0 / n_a + 1e0 / n_b))
                                 / ((((x_a + x_b) / cast(n_a + n_b as double)) * (1e0 - ((x_a + x_b) / cast(n_a + n_b as double))) * (1e0 / n_a + 1e0 / n_b)) + CAST(0.01 AS DOUBLE)))
                              + (x_a / cast(n_a as double) - x_b / cast(n_b as double)) * (x_a / cast(n_a as double) - x_b / cast(n_b as double)) * CAST(0.01 AS DOUBLE)
                                / (2e0 * (((x_a + x_b) / cast(n_a + n_b as double)) * (1e0 - ((x_a + x_b) / cast(n_a + n_b as double))) * (1e0 / n_a + 1e0 / n_b))
                                   * ((((x_a + x_b) / cast(n_a + n_b as double)) * (1e0 - ((x_a + x_b) / cast(n_a + n_b as double))) * (1e0 / n_a + 1e0 / n_b)) + CAST(0.01 AS DOUBLE))))
                             * 1000000) AS BIGINT)
                       END AS log_lambda_micro
                FROM cum),
            run AS (
                SELECT *,
                       max(log_lambda_micro) OVER
                           (PARTITION BY priority ORDER BY peek
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mx
                FROM ll)
            SELECT priority, peek, n_a, x_a, n_b, x_b,
                   log_lambda_micro,
                   coalesce(mx >= 2995732, FALSE) AS reject,
                   round(exp(-(greatest(coalesce(mx, 0), 0)
                               / cast(1000000 as double))), 6)
                       AS always_valid_p
            FROM run
        """,
        # q_cuped: theta and the per-row adjustment mirrored in HUGEINT
        "q_cuped": f"""
            WITH src AS (
                SELECT l_orderkey, l_linenumber,
                       CAST(sign(l_extendedprice / 1000.0)
                            * floor(abs(l_extendedprice / 1000.0)
                                    * 1000000 + 0.5) AS HUGEINT) AS qy,
                       CAST(sign(l_quantity)
                            * floor(abs(l_quantity) * 1000000 + 0.5)
                            AS HUGEINT) AS qx
                FROM lineitem),
            m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                         sum(qx) AS sx, sum(qy) AS sy,
                         sum(qx * qx) AS sxx, sum(qx * qy) AS sxy
                  FROM src),
            t AS (SELECT n, sx,
                         CASE WHEN sxx * n - sx * sx > 0 THEN
                              {idiv_int('(sxy * n - sx * sy) * 1000000',
                                        'sxx * n - sx * sx')}
                         ELSE 0 END AS qt
                  FROM m)
            SELECT s.l_orderkey, s.l_linenumber,
                   CAST(s.qy AS DOUBLE) / 1000000.0 AS metric,
                   CAST(s.qy - {idiv_int('t.qt * (s.qx * t.n - t.sx)',
                                         't.n * 1000000')}
                        AS DOUBLE) / 1000000.0 AS cuped_adjusted,
                   CAST(t.qt AS DOUBLE) / 1000000.0 AS theta
            FROM src s, t
        """,
        # q_crawl_pipeline: canonical URL closed form + the extraction
        # ladder + keep-first-by-min-doc_id as a plain GROUP BY
        "q_crawl_pipeline": f"""
            WITH staged AS (
                SELECT doc_id,
                       'http://crawl' || (doc_id % 350)
                           || '.example/page?v=' || (doc_id % 350)
                           AS url_norm,
                       length({_html_chain(
                           "'<body><p>' || text || '</p></body>'")})
                           AS text_len
                FROM documents WHERE doc_id < 700),
            keep AS (SELECT url_norm,
                            min(doc_id) AS doc_id
                     FROM staged GROUP BY url_norm)
            SELECT k.url_norm, k.doc_id, s.text_len
            FROM keep k JOIN staged s
                 ON k.url_norm = s.url_norm AND k.doc_id = s.doc_id
        """,
        # q_url_normalize: the INTENDED canonical form stated directly
        # — lower scheme/host, userinfo+:443+fragment+utm gone, params
        # sorted — so the regex chain is checked against intent
        "q_url_normalize": """
            SELECT doc_id,
                   'www.site' || (doc_id % 9) || '.org' AS url_host,
                   'https://www.site' || (doc_id % 9) || '.org/p/'
                       || doc_id || '?a=1&b=' || (doc_id % 3)
                       AS url_norm
            FROM documents WHERE doc_id < 600
        """,
        # q_warc_ingest: the two-record layout is a literal function of
        # doc_id (both the plain and gzip-member paths decode to it)
        "q_warc_ingest": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60)
            SELECT doc_id, 'response' AS record_type,
                   'https://example.org/' || doc_id AS url,
                   200 AS http_status, 'text/html' AS content_type,
                   '<p>doc ' || doc_id || '</p>' AS payload
            FROM d
            UNION ALL
            SELECT doc_id, 'request',
                   'https://example.org/' || doc_id,
                   NULL, '', 'GET'
            FROM d
        """,
        # q_html_text: the full regexp ladder restated on the same
        # scaffolded HTML
        "q_html_text": f"""
            SELECT doc_id,
                   {_html_chain(
                       "'<html><head><script>var a=''<p>'';</script>"
                       "<style>p{{color:red}}</style></head><body>"
                       "<h1>Doc ' || doc_id || '</h1><p>' || text || "
                       "'</p><div>tail&nbsp;&amp;amp;</div>"
                       "<!-- boilerplate --></body></html>'")} AS text
            FROM documents WHERE doc_id < 500
        """,
        # q_rouge: the clipped bigram overlap restated — same
        # normalization, per-position slices, min() clip, integer
        # ratios; driven from the UNION of input ids so both-short
        # pairs emit their zero-gram all-NULL row
        "q_rouge": f"""
            WITH c0 AS (
                SELECT doc_id AS id,
                       string_split(lower(regexp_replace(trim(text),
                           '\\s+', ' ', 'g')), ' ') AS w
                FROM documents WHERE doc_id < 400),
            r0 AS (
                SELECT doc_id - 400 AS id,
                       string_split(lower(regexp_replace(trim(text),
                           '\\s+', ' ', 'g')), ' ') AS w
                FROM documents WHERE doc_id >= 400 AND doc_id < 800),
            cg AS (SELECT id, array_to_string(w[pos:pos+1], ' ') AS g,
                          CAST(count(*) AS HUGEINT) AS c
                   FROM c0, unnest(generate_series(1, len(w) - 1))
                        AS u(pos)
                   WHERE len(w) >= 2 GROUP BY 1, 2),
            rg AS (SELECT id, array_to_string(w[pos:pos+1], ' ') AS g,
                          CAST(count(*) AS HUGEINT) AS c
                   FROM r0, unnest(generate_series(1, len(w) - 1))
                        AS u(pos)
                   WHERE len(w) >= 2 GROUP BY 1, 2),
            tc AS (SELECT id, sum(c) AS cand_grams FROM cg GROUP BY 1),
            tr AS (SELECT id, sum(c) AS ref_grams FROM rg GROUP BY 1),
            cl AS (SELECT cg.id, sum(least(cg.c, rg.c)) AS clip
                   FROM cg JOIN rg ON cg.id = rg.id AND cg.g = rg.g
                   GROUP BY 1),
            ids AS (SELECT id FROM c0 UNION SELECT id FROM r0),
            j AS (SELECT ids.id,
                         COALESCE(tc.cand_grams, 0) AS a,
                         COALESCE(tr.ref_grams, 0) AS b
                  FROM ids LEFT JOIN tc ON ids.id = tc.id
                           LEFT JOIN tr ON ids.id = tr.id),
            f AS (SELECT j.id, j.a, j.b, COALESCE(cl.clip, 0) AS c
                  FROM j LEFT JOIN cl ON j.id = cl.id)
            SELECT id AS doc_id, CAST(a AS BIGINT) AS cand_grams,
                   CAST(b AS BIGINT) AS ref_grams,
                   CAST(c AS BIGINT) AS clip,
                   CASE WHEN a > 0 THEN
                        {idiv_half_up('c * 1000000', 'a', 1000000)}
                   END AS precision,
                   CASE WHEN b > 0 THEN
                        {idiv_half_up('c * 1000000', 'b', 1000000)}
                   END AS recall,
                   CASE WHEN a + b > 0 THEN
                        {idiv_half_up('2 * c * 1000000', 'a + b',
                                      1000000)}
                   END AS f1
            FROM f
        """,
        # q_gumbel_return: L-moments off one rank window, λ1/λ2 exact,
        # the three Gumbel seams as verbatim repr literals
        "q_gumbel_return": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS cell, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            q AS (SELECT cell,
                         CAST(sign(am) * floor(abs(am) * 1000000
                                               + 0.5) AS HUGEINT)
                             AS qx
                  FROM ams),
            r AS (SELECT cell, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx) AS i
                  FROM q),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0, sum((i - 1) * qx) AS s1
                  FROM r GROUP BY cell),
            f AS (SELECT cell, n, {idiv_int('s0', 'n')} AS lam1,
                         CASE WHEN n >= 2 THEN
                              {idiv_int('2 * s1 - (n - 1) * s0',
                                        'n * (n - 1)')} END AS lam2
                  FROM g),
            b AS (SELECT cell, n, lam1,
                         CASE WHEN n >= 2 AND lam2 > 0 THEN
                              CAST(sign(CAST(lam2 AS DOUBLE)
                                        * {_INV_LN2})
                                   * floor(abs(CAST(lam2 AS DOUBLE)
                                               * {_INV_LN2}) + 0.5)
                                   AS HUGEINT) END AS beta
                  FROM f),
            x AS (SELECT cell, n, beta,
                         CASE WHEN beta IS NOT NULL THEN
                              lam1 - CAST(sign(CAST(beta AS DOUBLE)
                                               * {_EULER})
                                          * floor(abs(CAST(beta
                                                    AS DOUBLE)
                                                    * {_EULER}) + 0.5)
                                          AS HUGEINT) END AS xi
                  FROM b)
            SELECT cell, n, p.period,
                   CAST(xi AS DOUBLE) / 1000000.0 AS loc,
                   CAST(beta AS DOUBLE) / 1000000.0 AS scale,
                   CASE WHEN xi IS NOT NULL THEN
                        CAST(xi + CAST(sign(CAST(beta AS DOUBLE)
                                            * p.yt)
                                       * floor(abs(CAST(beta AS DOUBLE)
                                                   * p.yt) + 0.5)
                                       AS HUGEINT)
                             AS DOUBLE) / 1000000.0 END AS level
            FROM x CROSS JOIN (VALUES (2, {_GV[2]}), (5, {_GV[5]}),
                                      (20, {_GV[20]}),
                                      (100, {_GV[100]}))
                 AS p(period, yt)
        """,
        # q_pot_clusters / q_pot_gpd: the shared gaps-and-islands CTE
        # chain (lag → flag → running sum), then exact excess moments
        "q_pot_clusters": f"""
            WITH e AS (
                SELECT user_id % 8 AS cell, epoch_us(ts) AS o,
                       CAST(sign(value) * floor(abs(value) * 1000000
                                                + 0.5) AS HUGEINT)
                           AS qx
                FROM events WHERE value > 150.0),
            d AS (SELECT cell, o, qx,
                         CASE WHEN o - lag(o) OVER (
                                  PARTITION BY cell ORDER BY o, qx)
                                  > 40000000000
                              THEN 1 ELSE 0 END AS nw
                  FROM e),
            c AS (SELECT cell, o, qx,
                         CAST(sum(nw) OVER (PARTITION BY cell
                                            ORDER BY o, qx
                                            ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS cluster
                  FROM d)
            SELECT cell, cluster,
                   CAST(max(qx) AS DOUBLE) / 1000000.0 AS peak,
                   count(*) AS n_exceed,
                   min(o) AS start_o, max(o) AS end_o
            FROM c GROUP BY cell, cluster
        """,
        "q_pot_gpd": f"""
            WITH e AS (
                SELECT user_id % 8 AS cell, epoch_us(ts) AS o,
                       CAST(sign(value) * floor(abs(value) * 1000000
                                                + 0.5) AS HUGEINT)
                           AS qx
                FROM events WHERE value > 150.0),
            d AS (SELECT cell, o, qx,
                         CASE WHEN o - lag(o) OVER (
                                  PARTITION BY cell ORDER BY o, qx)
                                  > 40000000000
                              THEN 1 ELSE 0 END AS nw
                  FROM e),
            c AS (SELECT cell, qx,
                         sum(nw) OVER (PARTITION BY cell
                                       ORDER BY o, qx
                                       ROWS UNBOUNDED PRECEDING)
                             AS cluster
                  FROM d),
            p AS (SELECT cell,
                         CAST(max(qx) AS DOUBLE) / 1000000.0 AS peak
                  FROM c GROUP BY cell, cluster),
            y AS (SELECT cell,
                         CAST(sign(peak - 150.0)
                              * floor(abs(peak - 150.0) * 1000000
                                      + 0.5) AS HUGEINT) AS qy
                  FROM p WHERE peak > 150.0),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qy) AS s, sum(qy * qy) AS ss
                  FROM y GROUP BY cell),
            v AS (SELECT cell, n, s, n * ss - s * s AS varn FROM g),
            m AS (SELECT cell, n,
                         (n >= 2 AND varn > 0 AND s > 0) AS ok,
                         CASE WHEN varn > 0 THEN
                              {idiv_int('s * s * 1000000', 'varn')}
                         END AS r,
                         {idiv_int('s', 'n')} AS ybar
                  FROM v)
            SELECT cell, n,
                   CASE WHEN ok THEN
                        CAST(ybar AS DOUBLE) / 1000000.0
                   END AS mean_excess,
                   CASE WHEN ok THEN
                        CAST({idiv_int('1000000 - r', '2')}
                             AS DOUBLE) / 1000000.0
                   END AS xi,
                   CASE WHEN ok THEN
                        CAST({idiv_int('ybar * (r + 1000000)',
                                       '2000000')}
                             AS DOUBLE) / 1000000.0
                   END AS sigma
            FROM m
        """,
        # q_lmoments: four PWMs, factorial denominators cancel, every
        # ratio one exact integer division — zero seams
        "q_lmoments": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS cell, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            q AS (SELECT cell,
                         CAST(sign(am) * floor(abs(am) * 1000000
                                               + 0.5) AS HUGEINT)
                             AS qx
                  FROM ams),
            r AS (SELECT cell, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx) AS i
                  FROM q),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0,
                         sum((i - 1) * qx) AS s1,
                         sum((i - 1) * CAST(i - 2 AS HUGEINT) * qx)
                             AS s2,
                         sum((i - 1) * CAST(i - 2 AS HUGEINT)
                             * (i - 3) * qx) AS s3
                  FROM r GROUP BY cell),
            f AS (SELECT cell, n, s0,
                         2 * s1 - (n - 1) * s0 AS a,
                         6 * s2 - 6 * (n - 2) * s1
                             + (n - 1) * CAST(n - 2 AS HUGEINT) * s0
                             AS b,
                         20 * s3 - 30 * (n - 3) * s2
                             + 12 * (n - 2) * CAST(n - 3 AS HUGEINT)
                               * s1
                             - (n - 1) * CAST(n - 2 AS HUGEINT)
                               * (n - 3) * s0 AS c
                  FROM g),
            t AS (SELECT cell, n, s0, a, b, c,
                         (n >= 4 AND s0 > 0 AND a > 0) AS ok
                  FROM f)
            SELECT cell, n,
                   {idiv_half_up('s0', 'CAST(n AS HUGEINT)', 1000000)}
                       AS l1,
                   CASE WHEN ok THEN
                        {idiv_half_up('a * 1000000',
                                      'greatest((n - 1) * s0, 1)',
                                      1000000)} END AS t2,
                   CASE WHEN ok THEN
                        {idiv_half_up('b * 1000000',
                                      'greatest((n - 2) * a, 1)',
                                      1000000)} END AS t3,
                   CASE WHEN ok THEN
                        {idiv_half_up(
                            'c * 1000000',
                            'greatest((n - 2) * CAST(n - 3 AS '
                            'HUGEINT) * a, 1)', 1000000)}
                   END AS t4
            FROM t
        """,
        # q_gev_return: three PWMs, exact t3, then the shared-literal
        # seam chain c -> kappa -> Gamma-poly -> sigma -> xi -> levels
        "q_gev_return": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS cell, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            q AS (SELECT cell,
                         CAST(sign(am) * floor(abs(am) * 1000000
                                               + 0.5) AS HUGEINT)
                             AS qx
                  FROM ams),
            r AS (SELECT cell, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx) AS i
                  FROM q),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0,
                         sum((i - 1) * qx) AS s1,
                         sum((i - 1) * CAST(i - 2 AS HUGEINT) * qx)
                             AS s2
                  FROM r GROUP BY cell),
            f AS (SELECT cell, n,
                         {idiv_int('s0', 'n')} AS lam1,
                         2 * s1 - (n - 1) * s0 AS lam2n,
                         {idiv_int('2 * s1 - (n - 1) * s0',
                                   'greatest(CAST(n AS HUGEINT) '
                                   '* (n - 1), 1)')} AS lam2,
                         6 * s2 - 6 * (n - 2) * s1
                             + (n - 1) * CAST(n - 2 AS HUGEINT) * s0
                             AS t3n
                  FROM g),
            t AS (SELECT cell, n, lam1, lam2,
                         (n >= 3 AND lam2 > 0
                          AND (n - 2) * lam2n <> 0) AS ok0,
                         CASE WHEN (n - 2) * lam2n > 0 THEN
                              {idiv_int('t3n * 1000000',
                                        '(n - 2) * lam2n')} END AS t3q
                  FROM f),
            s1c AS (SELECT *, CASE WHEN ok0 THEN
                           {_qseam_sql(_GEV_C)} END AS cq
                    FROM t),
            s2c AS (SELECT *, CASE WHEN ok0 THEN
                           {_qseam_sql(_GEV_K)} END AS kq
                    FROM s1c),
            s3c AS (SELECT *, CASE WHEN ok0 AND kq IS NOT NULL
                                   AND kq <> 0
                                   AND abs(kq) <= 500000 THEN
                           CAST(floor({_GEV_G} * 1000000e0 + 5e-1)
                                AS BIGINT) END AS gq
                    FROM s2c),
            s4c AS (SELECT *, CASE WHEN gq IS NOT NULL THEN
                           {_qseam_sql(_GEV_SIG)} END AS sq
                    FROM s3c),
            s5c AS (SELECT *, CASE WHEN sq IS NOT NULL THEN
                           lam1 + {_qseam_sql(_GEV_XI)} END AS xq
                    FROM s4c),
            lv AS (SELECT s5c.*, p.period, p.lyt,
                          CASE WHEN xq IS NOT NULL THEN
                               xq + {_qseam_sql(_GEV_LVL)} END AS lq
                   FROM s5c CROSS JOIN (VALUES
                        (10, {_GEV_LYT[10]}),
                        (100, {_GEV_LYT[100]})) p(period, lyt))
            SELECT cell, n, period,
                   CAST(kq AS DOUBLE) / 1000000.0 AS kappa,
                   CAST(xq AS DOUBLE) / 1000000.0 AS loc,
                   CAST(sq AS DOUBLE) / 1000000.0 AS scale,
                   CAST(lq AS DOUBLE) / 1000000.0 AS level
            FROM lv
        """,
        # q_spi: Gringorten positions as exact integer ratios, the
        # probit ONE shared Acklam rational seam (single-sourced text)
        "q_spi": f"""
            WITH src AS (
                SELECT user_id % 6 AS cell, day(ts) AS day,
                       max(value) AS precip
                FROM events GROUP BY 1, 2),
            q AS (SELECT cell, day, precip AS value,
                         CAST(sign(precip) * floor(abs(precip)
                              * 1000000 + 0.5) AS HUGEINT) AS qx
                  FROM src),
            r AS (SELECT cell, day, value, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx, day) AS i,
                         CAST(count(*) OVER (PARTITION BY cell)
                              AS BIGINT) AS n
                  FROM q),
            p AS (SELECT cell, day, value, n,
                         greatest(1, least(999999,
                         {idiv_int('(100 * CAST(i AS HUGEINT) - 44) '
                                   '* 1000000',
                                   '100 * CAST(n AS HUGEINT) + 12')}
                         )) AS pq
                  FROM r)
            SELECT cell, day, value, n,
                   CAST(pq AS DOUBLE) / 1000000.0 AS p,
                   CAST({_qseam_sql(_SPI_PROBIT)} AS DOUBLE)
                       / 1000000.0 AS spi
            FROM p
        """,
        # q_spi_drought: the q_spi chain feeding the drought-runs
        # chain at SPI <= -1 — make-then-consume in one SQL
        "q_spi_drought": f"""
            WITH src AS (
                SELECT user_id % 6 AS cell, day(ts) AS day,
                       max(value) AS precip
                FROM events GROUP BY 1, 2),
            q AS (SELECT cell, day, precip AS value,
                         CAST(sign(precip) * floor(abs(precip)
                              * 1000000 + 0.5) AS HUGEINT) AS qx
                  FROM src),
            r AS (SELECT cell, day, value, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx, day) AS i,
                         CAST(count(*) OVER (PARTITION BY cell)
                              AS BIGINT) AS n
                  FROM q),
            p AS (SELECT cell, day, value, n,
                         greatest(1, least(999999,
                         {idiv_int('(100 * CAST(i AS HUGEINT) - 44) '
                                   '* 1000000',
                                   '100 * CAST(n AS HUGEINT) + 12')}
                         )) AS pq
                  FROM r),
            spi AS (SELECT cell, day,
                           CAST({_qseam_sql(_SPI_PROBIT)} AS DOUBLE)
                               / 1000000.0 AS v
                    FROM p),
            e AS (SELECT cell, CAST(day AS BIGINT) AS o,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qx,
                         CAST(sign(-1.0 - v)
                              * floor(abs(-1.0 - v) * 1000000 + 0.5)
                              AS HUGEINT) AS qd
                  FROM spi WHERE v < -1.0),
            g AS (SELECT cell, o, qx, qd,
                         CASE WHEN o - lag(o) OVER (
                                  PARTITION BY cell ORDER BY o, qx)
                                  > 1
                              THEN 1 ELSE 0 END AS nw
                  FROM e),
            c AS (SELECT cell, o, qx, qd,
                         CAST(sum(nw) OVER (PARTITION BY cell
                                            ORDER BY o, qx
                                            ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS run
                  FROM g)
            SELECT cell, run, min(o) AS start_o, max(o) AS end_o,
                   CAST(count(*) AS BIGINT) AS duration,
                   CAST(sum(qd) AS DOUBLE) / 1000000.0 AS severity,
                   {idiv_half_up('sum(qd)',
                                 'CAST(count(*) AS HUGEINT)',
                                 1000000)} AS intensity,
                   CAST(min(qx) AS DOUBLE) / 1000000.0 AS min_value
            FROM c GROUP BY cell, run
        """,
        # q_regrid: integer half-micro-degree conservative remap —
        # portable floor division, candidate scatter, exact weights
        "q_regrid": f"""
            WITH cells AS (
                SELECT round(0.025 + (p_partkey % 200) * 0.05, 3)
                           AS lat,
                       round(0.025 + (CAST(floor(p_partkey / 200)
                                 AS BIGINT) % 200) * 0.05, 3) AS lon,
                       p_retailprice AS val
                FROM part),
            b AS (SELECT CAST(sign(lat) * floor(abs(lat) * 2000000
                               + 0.5) AS HUGEINT) - 50000 AS ylo,
                         CAST(sign(lon) * floor(abs(lon) * 2000000
                               + 0.5) AS HUGEINT) - 50000 AS xlo,
                         CAST(sign(val) * floor(abs(val) * 1000000
                               + 0.5) AS HUGEINT) AS qv
                  FROM cells),
            ix0 AS (SELECT ylo, xlo, qv,
                           (ylo - ((ylo % 150000 + 150000) % 150000))
                               // 150000 AS iy0,
                           (xlo - ((xlo % 150000 + 150000) % 150000))
                               // 150000 AS ix0
                    FROM b),
            cand AS (SELECT ylo, xlo, qv,
                            iy0 + dy.o AS iy, ix0 + dx.o AS ix
                     FROM ix0
                     CROSS JOIN (VALUES (0), (1)) dy(o)
                     CROSS JOIN (VALUES (0), (1)) dx(o)),
            wts AS (SELECT iy, ix, qv,
                           greatest(least(ylo + 100000,
                                          (iy + 1) * 150000)
                                    - greatest(ylo, iy * 150000), 0)
                           * greatest(least(xlo + 100000,
                                            (ix + 1) * 150000)
                                      - greatest(xlo, ix * 150000), 0)
                               AS w
                    FROM cand),
            ag AS (SELECT iy, ix, sum(w * qv) AS swv, sum(w) AS sw
                   FROM wts WHERE w > 0 GROUP BY iy, ix)
            SELECT CAST(iy * 150000 + 75000 AS DOUBLE) / 2000000.0
                       AS dlat,
                   CAST(ix * 150000 + 75000 AS DOUBLE) / 2000000.0
                       AS dlon,
                   CAST({idiv_int('swv', 'sw')} AS DOUBLE)
                       / 1000000.0 AS value,
                   CAST({idiv_int('sw * 1000000', '22500000000')}
                        AS DOUBLE) / 1000000.0 AS coverage
            FROM ag
        """,
        # q_pettitt: pair scatter -> boundary deltas -> cumulative U,
        # integer K/t*, one exp seam for Pettitt's p approximation
        "q_pettitt": f"""
            WITH series AS (
                SELECT l_suppkey % 10 AS cell,
                       year(l_shipdate) * 12 + month(l_shipdate) AS t,
                       max(l_extendedprice / 1000.0) AS x
                FROM lineitem GROUP BY 1, 2),
            b AS (SELECT cell, CAST(t AS BIGINT) AS t,
                         CAST(sign(x) * floor(abs(x) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM series),
            nr AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
                   FROM b GROUP BY cell),
            p AS (SELECT a.cell, a.t AS ti, c.t AS tj,
                         CASE WHEN c.qx > a.qx THEN 1
                              WHEN c.qx < a.qx THEN -1 ELSE 0 END
                             AS sgn
                  FROM b a JOIN b c
                       ON a.cell = c.cell AND a.t < c.t),
            d AS (SELECT cell, ti AS t, sgn AS dd FROM p
                  UNION ALL
                  SELECT cell, tj AS t, -sgn AS dd FROM p),
            dg AS (SELECT cell, t, CAST(sum(dd) AS BIGINT) AS dd
                   FROM d GROUP BY cell, t),
            u AS (SELECT cell, t,
                         sum(dd) OVER (PARTITION BY cell ORDER BY t
                                       ROWS UNBOUNDED PRECEDING)
                             AS ut
                  FROM dg),
            k AS (SELECT cell, abs(ut) AS kk, t,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY abs(ut) DESC,
                                            t ASC) AS r
                  FROM u),
            best AS (SELECT cell, kk AS k_stat, t AS t_change
                     FROM k WHERE r = 1),
            j AS (SELECT nr.cell, nr.n, best.k_stat, best.t_change,
                         {idiv_int('-6 * CAST(best.k_stat AS HUGEINT)'
                                   ' * best.k_stat * 1000000',
                                   'greatest(CAST(nr.n AS HUGEINT)'
                                   ' * nr.n * (nr.n + 1), 1)')}
                             AS argq
                  FROM nr LEFT JOIN best ON nr.cell = best.cell),
            z AS (SELECT cell, n, k_stat, t_change,
                         CASE WHEN k_stat IS NOT NULL AND n >= 2 THEN
                              least(CAST(floor(2000000e0
                                   * exp(CAST(argq AS DOUBLE)
                                         / 1000000.0) + 5e-1)
                                   AS BIGINT), 1000000) END AS pq
                  FROM j)
            SELECT cell, n, CAST(k_stat AS BIGINT) AS k_stat,
                   CAST(CASE WHEN pq IS NOT NULL THEN t_change END
                        AS BIGINT) AS t_change,
                   CAST(pq AS DOUBLE) / 1000000.0 AS p_value,
                   CASE WHEN pq IS NOT NULL THEN pq < 50000 END
                       AS shift
            FROM z
        """,
        # q_bss: the quantized-integer BS and UNC terms of the Murphy
        # chain, closed by one more exact idiv
        "q_bss": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            c AS (SELECT CAST(sign(p) * floor(abs(p) * 1000000 + 0.5)
                              AS HUGEINT) AS qp,
                         CAST(o AS HUGEINT) AS o
                  FROM src),
            t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                         sum(o) AS so, sum(qp * qp) AS spp,
                         sum(qp * o) AS spo
                  FROM c),
            f AS (SELECT n,
                         {idiv_int('spp - 2000000 * spo '
                                   '+ 1000000000000 * so',
                                   'n * 1000000')} AS bsq,
                         {idiv_int('so * (n - so) * 1000000',
                                   'n * n')} AS uncq
                  FROM t)
            SELECT CAST(bsq AS DOUBLE) / 1000000.0 AS brier,
                   CAST(uncq AS DOUBLE) / 1000000.0 AS uncertainty,
                   CASE WHEN uncq > 0 THEN
                        CAST({idiv_int('(uncq - bsq) * 1000000',
                                       'uncq')} AS DOUBLE)
                            / 1000000.0 END AS bss
            FROM f
        """,
        # q_snow: the clamped regime-switched recurrence as a
        # recursive CTE over the identical IEEE tree — raw-double
        # parity, no rounding seam
        "q_snow": """
            WITH RECURSIVE src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS day,
                       max(value) / 10.0 AS precip
                FROM events GROUP BY 1, 2),
            s0 AS (SELECT cell, CAST(day AS INT) AS t, precip,
                          CAST((day * 3 + cell) % 20 - 8 AS DOUBLE)
                              AS temp
                   FROM src),
            s AS (SELECT cell, t, precip, temp,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY t, precip) AS rn
                  FROM s0),
            r AS (
                SELECT cell, t, precip, temp, rn,
                       (CASE WHEN temp <= 0.0 THEN precip
                             ELSE 0.0 END)
                           - least(CASE WHEN temp <= 0.0 THEN precip
                                        ELSE 0.0 END,
                                   CASE WHEN temp > 0.0 THEN
                                        3.0 * (temp - 0.0)
                                        ELSE 0.0 END) AS swe,
                       least(CASE WHEN temp <= 0.0 THEN precip
                                  ELSE 0.0 END,
                             CASE WHEN temp > 0.0 THEN
                                  3.0 * (temp - 0.0)
                                  ELSE 0.0 END) AS melt,
                       CASE WHEN temp > 0.0 THEN precip
                            ELSE 0.0 END AS rain
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.cell, s.t, s.precip, s.temp, s.rn,
                       (r.swe + CASE WHEN s.temp <= 0.0 THEN s.precip
                                     ELSE 0.0 END)
                           - least(r.swe + CASE WHEN s.temp <= 0.0
                                                THEN s.precip
                                                ELSE 0.0 END,
                                   CASE WHEN s.temp > 0.0 THEN
                                        3.0 * (s.temp - 0.0)
                                        ELSE 0.0 END),
                       least(r.swe + CASE WHEN s.temp <= 0.0
                                          THEN s.precip
                                          ELSE 0.0 END,
                             CASE WHEN s.temp > 0.0 THEN
                                  3.0 * (s.temp - 0.0)
                                  ELSE 0.0 END),
                       CASE WHEN s.temp > 0.0 THEN s.precip
                            ELSE 0.0 END
                FROM s JOIN r
                     ON s.cell = r.cell AND s.rn = r.rn + 1)
            SELECT cell, t, precip, temp, swe, melt, rain FROM r
        """,
        # q_low_flow_freq: weekly-block MAM3 minima through the
        # minima <-> negated-maxima duality into the Gumbel chain
        "q_low_flow_freq": f"""
            WITH src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS v
                FROM events GROUP BY 1, 2),
            q0 AS (SELECT cell, CAST(t AS BIGINT) AS o,
                          CAST(t // 7 AS INT) AS wk,
                          CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                               AS HUGEINT) AS qx
                   FROM src),
            fr AS (SELECT cell, wk,
                          sum(qx) OVER w AS ws, count(*) OVER w AS wc
                   FROM q0
                   WINDOW w AS (PARTITION BY cell, wk ORDER BY o
                                RANGE BETWEEN 2 PRECEDING
                                AND CURRENT ROW)),
            mw AS (SELECT cell, wk,
                          CASE WHEN wc = 3 THEN
                               {idiv_int('ws', '3')} END AS m
                   FROM fr),
            ams AS (SELECT cell, wk, min(m) AS mn
                    FROM mw GROUP BY cell, wk
                    HAVING count(m) > 0),
            g0 AS (SELECT cell, -mn AS qx FROM ams),
            r AS (SELECT cell, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx) AS i
                  FROM g0),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0, sum((i - 1) * qx) AS s1
                  FROM r GROUP BY cell),
            f AS (SELECT cell, n, {idiv_int('s0', 'n')} AS lam1,
                         CASE WHEN n >= 2 THEN
                              {idiv_int('2 * s1 - (n - 1) * s0',
                                        'n * (n - 1)')} END AS lam2
                  FROM g),
            bb AS (SELECT cell, n, lam1,
                          CASE WHEN n >= 2 AND lam2 > 0 THEN
                               CAST(sign(CAST(lam2 AS DOUBLE)
                                         * {_INV_LN2})
                                    * floor(abs(CAST(lam2 AS DOUBLE)
                                                * {_INV_LN2}) + 0.5)
                                    AS HUGEINT) END AS beta
                   FROM f),
            x AS (SELECT cell, n, beta,
                         CASE WHEN beta IS NOT NULL THEN
                              lam1 - CAST(sign(CAST(beta AS DOUBLE)
                                               * {_EULER})
                                          * floor(abs(CAST(beta
                                                    AS DOUBLE)
                                                    * {_EULER}) + 0.5)
                                          AS HUGEINT) END AS xi
                  FROM bb)
            SELECT cell, n, p.period,
                   CASE WHEN xi IS NOT NULL THEN
                        CAST(-(xi + CAST(sign(CAST(beta AS DOUBLE)
                                              * p.yt)
                                    * floor(abs(CAST(beta AS DOUBLE)
                                                * p.yt) + 0.5)
                                    AS HUGEINT))
                             AS DOUBLE) / 1000000.0 END AS q_low
            FROM x CROSS JOIN (VALUES (2, {_GV[2]}),
                                      (20, {_GV[20]}))
                 AS p(period, yt)
        """,
        # q_regional_growth: site PWMs off one rank window, scale-
        # invariant t2/t3 as exact integer ratios, record-length-
        # weighted regional pooling, then the SAME GEV seam chain with
        # lam1 pinned to 1e6 and lam2 = t2_R; site levels one exact
        # micro x micro / 1e6 ratio
        "q_regional_growth": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS site, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            a2 AS (SELECT site % 4 AS region, site,
                          CAST(sign(am) * floor(abs(am) * 1000000
                               + 0.5) AS HUGEINT) AS qx
                   FROM ams),
            r AS (SELECT region, site, qx,
                         row_number() OVER (PARTITION BY region, site
                                            ORDER BY qx) AS i
                  FROM a2),
            g AS (SELECT region, site, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0,
                         sum((i - 1) * qx) AS s1,
                         sum((i - 1) * CAST(i - 2 AS HUGEINT) * qx)
                             AS s2
                  FROM r GROUP BY region, site),
            f AS (SELECT region, site, n, s0,
                         {idiv_int('s0', 'n')} AS l1,
                         2 * s1 - (n - 1) * s0 AS lam2n,
                         6 * s2 - 6 * (n - 2) * s1
                             + (n - 1) * CAST(n - 2 AS HUGEINT) * s0
                             AS t3n
                  FROM g),
            sq0 AS (SELECT region, site, n, l1,
                           (n >= 3 AND s0 > 0 AND lam2n > 0) AS oks,
                           CASE WHEN n >= 3 AND s0 > 0
                                     AND lam2n > 0 THEN
                                {idiv_int('lam2n * 1000000',
                                          '(n - 1) * s0')} END AS t2q,
                           CASE WHEN n >= 3 AND s0 > 0
                                     AND lam2n > 0 THEN
                                {idiv_int('t3n * 1000000',
                                          '(n - 2) * lam2n')}
                           END AS t3qs
                    FROM f),
            rg AS (SELECT region,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                   ELSE 0 END) AS wn,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                        * t2q END) AS wt2,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                        * t3qs END) AS wt3
                   FROM sq0 GROUP BY region),
            t AS (SELECT region, (wn > 0) AS okr,
                         CASE WHEN wn > 0 THEN
                              {idiv_int('wt2', 'wn')} END AS lam2,
                         CASE WHEN wn > 0 THEN
                              {idiv_int('wt3', 'wn')} END AS t3q
                  FROM rg),
            s1c AS (SELECT *, CASE WHEN okr THEN
                           {_qseam_sql(_GEV_C)} END AS cq
                    FROM t),
            s2c AS (SELECT *, CASE WHEN okr THEN
                           {_qseam_sql(_GEV_K)} END AS kq
                    FROM s1c),
            s3c AS (SELECT *, CASE WHEN okr AND kq IS NOT NULL
                                   AND kq <> 0
                                   AND abs(kq) <= 500000 THEN
                           CAST(floor({_GEV_G} * 1000000e0 + 5e-1)
                                AS BIGINT) END AS gq
                    FROM s2c),
            s4c AS (SELECT *, CASE WHEN gq IS NOT NULL THEN
                           {_qseam_sql(_GEV_SIG)} END AS sq
                    FROM s3c),
            s5c AS (SELECT *, CASE WHEN sq IS NOT NULL THEN
                           1000000 + {_qseam_sql(_GEV_XI)} END AS xq
                    FROM s4c),
            gr AS (SELECT s5c.region, p.period,
                          CASE WHEN xq IS NOT NULL THEN
                               xq + {_qseam_sql(_GEV_LVL)} END AS grq
                   FROM s5c CROSS JOIN (VALUES
                        (10, {_GEV_LYT[10]}),
                        (100, {_GEV_LYT[100]})) p(period, lyt))
            SELECT f.region, f.site, f.n, gr.period,
                   CAST(grq AS DOUBLE) / 1000000.0 AS growth,
                   CASE WHEN grq IS NOT NULL THEN
                        CAST({idiv_int('f.l1 * grq', '1000000')}
                             AS DOUBLE) / 1000000.0
                   END AS level
            FROM f JOIN gr ON f.region = gr.region
        """,
        # q_fss: separable two-pass RANGE-window box sums, fractions
        # and FSS as exact integer ratios — zero double seams
        "q_fss": f"""
            WITH grid AS (
                SELECT l_returnflag AS flag, l_partkey % 40 AS i,
                       l_suppkey % 40 AS j,
                       CAST(max(l_quantity) >= 48 AS INT) AS f,
                       CAST(max(l_extendedprice) >= 100000 AS INT)
                           AS o
                FROM lineitem GROUP BY 1, 2, 3),
            r1 AS (SELECT flag, i, j,
                          sum(f) OVER w AS sf1, sum(o) OVER w AS so1,
                          count(*) OVER w AS c1
                   FROM grid
                   WINDOW w AS (PARTITION BY flag, i ORDER BY j
                                RANGE BETWEEN 2 PRECEDING
                                AND 2 FOLLOWING)),
            r2 AS (SELECT flag, i, j,
                          sum(sf1) OVER w AS sfb,
                          sum(so1) OVER w AS sob,
                          sum(c1) OVER w AS cb
                   FROM r1
                   WINDOW w AS (PARTITION BY flag, j ORDER BY i
                                RANGE BETWEEN 2 PRECEDING
                                AND 2 FOLLOWING)),
            fr AS (SELECT flag,
                          {idiv_int('CAST(sfb AS HUGEINT) * 1000000',
                                    'CAST(cb AS HUGEINT)')} AS pf,
                          {idiv_int('CAST(sob AS HUGEINT) * 1000000',
                                    'CAST(cb AS HUGEINT)')} AS po
                   FROM r2),
            ag AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_cells,
                          sum((pf - po) * (pf - po)) AS num,
                          sum(pf * pf + po * po) AS den
                   FROM fr GROUP BY flag)
            SELECT flag, n_cells,
                   CASE WHEN den > 0 THEN
                        CAST(1000000 - {idiv_int('num * 1000000',
                                                 'den')}
                             AS DOUBLE) / 1000000.0 END AS fss
            FROM ag
        """,
        # q_rps: exact integer CDFs off the K-bounded threshold
        # relation, two idiv closes — zero double seams
        "q_rps": f"""
            WITH m0 AS (
                SELECT user_id % 5 AS cell, day(ts) AS t,
                       value AS member,
                       CAST((day(ts) % 7) * 5 + 8 AS DOUBLE) AS obs
                FROM events),
            pk AS (SELECT cell, t, k.k,
                          CAST(count(*) AS HUGEINT) AS m,
                          CAST(sum(CASE WHEN member <=
                                   CAST(k.thr AS DOUBLE)
                                   THEN 1 ELSE 0 END) AS HUGEINT)
                              AS le,
                          min(CASE WHEN obs <= CAST(k.thr AS DOUBLE)
                              THEN 1 ELSE 0 END) AS ole
                   FROM m0 CROSS JOIN (VALUES
                        (0, 10.0), (1, 40.0), (2, 120.0)) k(k, thr)
                   GROUP BY cell, t, k.k),
            d AS (SELECT cell, t,
                         ({idiv_int('le * 1000000', 'm')}
                          - CAST(ole AS HUGEINT) * 1000000) AS df
                  FROM pk),
            inst AS (SELECT cell, t, sum(df * df) AS s2
                     FROM d GROUP BY cell, t),
            iq AS (SELECT cell,
                          {idiv_int('s2', '3 * 1000000')} AS rq
                   FROM inst),
            ag AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_inst,
                          sum(rq) AS sr
                   FROM iq GROUP BY cell)
            SELECT cell, n_inst,
                   CAST({idiv_int('sr', 'CAST(n_inst AS HUGEINT)')}
                        AS DOUBLE) / 1000000.0 AS rps
            FROM ag
        """,
        # q_quantile_map: all-integer CDF matching — ranks, exact
        # quotient/remainder split, integer interpolation
        "q_quantile_map": f"""
            WITH sim AS (
                SELECT l_returnflag AS flag,
                       l_extendedprice / 1000.0 AS v
                FROM lineitem WHERE l_orderkey % 7 = 0),
            obs AS (
                SELECT l_returnflag AS flag,
                       l_extendedprice / 800.0 + 3.0 AS v
                FROM lineitem WHERE l_linenumber = 1),
            s AS (SELECT flag, v AS value,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM sim),
            sr AS (SELECT flag, value, qx,
                          CAST(row_number() OVER (PARTITION BY flag
                                                  ORDER BY qx)
                               AS HUGEINT) AS i,
                          CAST(count(*) OVER (PARTITION BY flag)
                               AS HUGEINT) AS n
                   FROM s),
            o AS (SELECT flag, CAST(sign(v) * floor(abs(v) * 1000000
                              + 0.5) AS HUGEINT) AS oq
                  FROM obs),
            orr AS (SELECT flag, oq,
                           CAST(row_number() OVER (PARTITION BY flag
                                                   ORDER BY oq)
                                AS HUGEINT) AS j,
                           lead(oq) OVER (PARTITION BY flag
                                          ORDER BY oq) AS onext
                    FROM o),
            mc AS (SELECT flag, CAST(count(*) AS HUGEINT) AS m
                   FROM obs GROUP BY flag),
            s2 AS (SELECT sr.flag, sr.value,
                          1 + (sr.i * (mc.m - 1)) // (sr.n + 1) AS ff,
                          (sr.i * (mc.m - 1)) % (sr.n + 1) AS rem,
                          sr.n + 1 AS den,
                          {idiv_int('sr.i * 1000000', 'sr.n + 1')}
                              AS pq
                   FROM sr LEFT JOIN mc ON sr.flag = mc.flag),
            j2 AS (SELECT s2.flag, s2.value, s2.pq,
                          CASE WHEN orr.oq IS NOT NULL THEN
                               orr.oq + CASE WHEN s2.rem = 0 THEN 0
                                    ELSE {idiv_int(
                                        's2.rem * (orr.onext '
                                        '- orr.oq)', 's2.den')} END
                          END AS mq
                   FROM s2 LEFT JOIN orr
                        ON s2.flag = orr.flag AND s2.ff = orr.j)
            SELECT flag, value,
                   CAST(pq AS DOUBLE) / 1000000.0 AS p,
                   CAST(mq AS DOUBLE) / 1000000.0 AS mapped
            FROM j2
        """,
        # q_uh_convolve: literal (tau, U-micro) scatter + one integer
        # product sum per output time
        "q_uh_convolve": f"""
            WITH daily AS (
                SELECT user_id % 8 AS basin, day(ts) AS t,
                       max(value) AS rain
                FROM events GROUP BY 1, 2),
            q AS (SELECT basin, CAST(t AS BIGINT) AS t,
                         CAST(sign(rain) * floor(abs(rain) * 1000000
                              + 0.5) AS HUGEINT) AS pq
                  FROM daily),
            x AS (SELECT basin, q.t + u.tau AS t,
                         q.pq * CAST(u.uq AS HUGEINT) AS prod
                  FROM q CROSS JOIN (VALUES
                       {_UH_VALUES}) u(tau, uq)),
            ag AS (SELECT basin, t, sum(prod) AS s
                   FROM x GROUP BY basin, t)
            SELECT basin, t,
                   CAST({idiv_int('s', '1000000')} AS DOUBLE)
                       / 1000000.0 AS runoff
            FROM ag
        """,
        # q_rfa_thresholds: the q_regional_growth chain at periods
        # 2/5/20, pivoted to threshold columns, consumed by the
        # flagship exceedance aggregate — make-then-consume in one SQL
        "q_rfa_thresholds": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS site, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            a2 AS (SELECT site % 4 AS region, site,
                          CAST(sign(am) * floor(abs(am) * 1000000
                               + 0.5) AS HUGEINT) AS qx
                   FROM ams),
            r AS (SELECT region, site, qx,
                         row_number() OVER (PARTITION BY region, site
                                            ORDER BY qx) AS i
                  FROM a2),
            g AS (SELECT region, site, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0,
                         sum((i - 1) * qx) AS s1,
                         sum((i - 1) * CAST(i - 2 AS HUGEINT) * qx)
                             AS s2
                  FROM r GROUP BY region, site),
            f AS (SELECT region, site, n, s0,
                         {idiv_int('s0', 'n')} AS l1,
                         2 * s1 - (n - 1) * s0 AS lam2n,
                         6 * s2 - 6 * (n - 2) * s1
                             + (n - 1) * CAST(n - 2 AS HUGEINT) * s0
                             AS t3n
                  FROM g),
            sq0 AS (SELECT region, site, n, l1,
                           (n >= 3 AND s0 > 0 AND lam2n > 0) AS oks,
                           CASE WHEN n >= 3 AND s0 > 0
                                     AND lam2n > 0 THEN
                                {idiv_int('lam2n * 1000000',
                                          '(n - 1) * s0')} END AS t2q,
                           CASE WHEN n >= 3 AND s0 > 0
                                     AND lam2n > 0 THEN
                                {idiv_int('t3n * 1000000',
                                          '(n - 2) * lam2n')}
                           END AS t3qs
                    FROM f),
            rg AS (SELECT region,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                   ELSE 0 END) AS wn,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                        * t2q END) AS wt2,
                          sum(CASE WHEN oks THEN CAST(n AS HUGEINT)
                                        * t3qs END) AS wt3
                   FROM sq0 GROUP BY region),
            t AS (SELECT region, (wn > 0) AS okr,
                         CASE WHEN wn > 0 THEN
                              {idiv_int('wt2', 'wn')} END AS lam2,
                         CASE WHEN wn > 0 THEN
                              {idiv_int('wt3', 'wn')} END AS t3q
                  FROM rg),
            s1c AS (SELECT *, CASE WHEN okr THEN
                           {_qseam_sql(_GEV_C)} END AS cq
                    FROM t),
            s2c AS (SELECT *, CASE WHEN okr THEN
                           {_qseam_sql(_GEV_K)} END AS kq
                    FROM s1c),
            s3c AS (SELECT *, CASE WHEN okr AND kq IS NOT NULL
                                   AND kq <> 0
                                   AND abs(kq) <= 500000 THEN
                           CAST(floor({_GEV_G} * 1000000e0 + 5e-1)
                                AS BIGINT) END AS gq
                    FROM s2c),
            s4c AS (SELECT *, CASE WHEN gq IS NOT NULL THEN
                           {_qseam_sql(_GEV_SIG)} END AS sq
                    FROM s3c),
            s5c AS (SELECT *, CASE WHEN sq IS NOT NULL THEN
                           1000000 + {_qseam_sql(_GEV_XI)} END AS xq
                    FROM s4c),
            gr AS (SELECT s5c.region, p.period,
                          CASE WHEN xq IS NOT NULL THEN
                               xq + {_qseam_sql(_GEV_LVL)} END AS grq
                   FROM s5c CROSS JOIN (VALUES
                        (2, {_GEV_LYT[2]}),
                        (5, {_GEV_LYT[5]}),
                        (20, {_GEV_LYT[20]})) p(period, lyt)),
            lvls AS (SELECT f.site, gr.period,
                            CASE WHEN grq IS NOT NULL THEN
                                 CAST({idiv_int('f.l1 * grq',
                                                '1000000')}
                                      AS DOUBLE) / 1000000.0
                            END AS level
                     FROM f JOIN gr ON f.region = gr.region),
            thr AS (SELECT site,
                           max(CASE WHEN period = 2 THEN level END)
                               AS t2y,
                           max(CASE WHEN period = 5 THEN level END)
                               AS t5y,
                           max(CASE WHEN period = 20 THEN level END)
                               AS t20y
                    FROM lvls GROUP BY site),
            mem AS (SELECT l_suppkey % 12 AS site,
                           l_extendedprice / 1000.0 AS dis24
                    FROM lineitem)
            SELECT m.site,
                   round(avg(CASE WHEN m.dis24 >= t.t2y
                             THEN 1 ELSE 0 END), 6) AS p_above_2y,
                   round(avg(CASE WHEN m.dis24 >= t.t5y
                             THEN 1 ELSE 0 END), 6) AS p_above_5y,
                   round(avg(CASE WHEN m.dis24 >= t.t20y
                             THEN 1 ELSE 0 END), 6) AS p_above_20y,
                   min(m.dis24) AS min_dis,
                   round(quantile_cont(m.dis24, 0.25), 6) AS q1_dis,
                   round(quantile_cont(m.dis24, 0.50), 6)
                       AS median_dis,
                   round(quantile_cont(m.dis24, 0.75), 6) AS q3_dis,
                   max(m.dis24) AS max_dis
            FROM mem m LEFT JOIN thr t ON m.site = t.site
            GROUP BY m.site
        """,
        # q_rating_curve: signed micro-nat log seams, exact integer
        # moments, the n²-cleared r², one exp seam for a
        "q_rating_curve": f"""
            WITH src AS (
                SELECT l_suppkey % 10 AS station,
                       l_quantity AS h,
                       l_extendedprice / 1000.0 AS qd
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
                  AND l_quantity > 0
                  AND l_extendedprice / 1000.0 > 0),
            q AS (SELECT station,
                         CAST(sign(ln(h)) * floor(abs(ln(h))
                              * 1000000 + 0.5) AS HUGEINT) AS x,
                         CAST(sign(ln(qd)) * floor(abs(ln(qd))
                              * 1000000 + 0.5) AS HUGEINT) AS y
                  FROM src),
            m AS (SELECT station, CAST(count(*) AS HUGEINT) AS n,
                         sum(x) AS sx, sum(y) AS sy,
                         sum(x * x) AS sxx, sum(y * y) AS syy,
                         sum(x * y) AS sxy
                  FROM q GROUP BY station),
            f AS (SELECT station, n, sx, sy,
                         n * sxy - sx * sy AS covn,
                         n * sxx - sx * sx AS denx,
                         n * syy - sy * sy AS deny
                  FROM m),
            b AS (SELECT *, CASE WHEN n >= 2 AND denx <> 0 THEN
                         {idiv_int('covn * 1000000', 'denx')}
                       END AS bq
                  FROM f),
            l AS (SELECT *, CASE WHEN bq IS NOT NULL THEN
                         {idiv_int('sy * 1000000 - bq * sx',
                                   'n * 1000000')} END AS laq
                  FROM b),
            r2 AS (SELECT *,
                          {idiv_int('covn', 'n * n')} AS cqn,
                          {idiv_int('denx', 'n * n')} AS dxq,
                          {idiv_int('deny', 'n * n')} AS dyq
                   FROM l),
            r3 AS (SELECT *, CASE WHEN n >= 2 AND denx <> 0
                                  AND deny > 0
                                  AND dxq * dyq <> 0 THEN
                          {idiv_int('cqn * cqn * 1000000',
                                    'dxq * dyq')} END AS r2q
                   FROM r2)
            SELECT station, CAST(n AS BIGINT) AS n,
                   CAST(bq AS DOUBLE) / 1000000.0 AS b,
                   CAST(laq AS DOUBLE) / 1000000.0 AS ln_a,
                   CAST(CASE WHEN laq IS NOT NULL THEN
                        CAST(floor(exp(CAST(laq AS DOUBLE)
                             / 1000000.0) * 1000000e0 + 5e-1)
                             AS BIGINT) END AS DOUBLE)
                       / 1000000.0 AS a,
                   CAST(r2q AS DOUBLE) / 1000000.0 AS r2
            FROM r3
        """,
        # q_persistence: exact integer error sums over the lag window,
        # SS zero-seam, U2 one sqrt seam
        "q_persistence": f"""
            WITH src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS v
                FROM events GROUP BY 1, 2),
            s2 AS (SELECT cell, CAST(t AS BIGINT) AS o,
                          v * 0.9 + 5.0 AS sim, v AS obs
                   FROM src),
            q AS (SELECT cell, o,
                         CAST(sign(sim) * floor(abs(sim) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qs,
                         CAST(sign(obs) * floor(abs(obs) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qo
                  FROM s2),
            l AS (SELECT cell, qs, qo,
                         lag(qo) OVER (PARTITION BY cell
                                       ORDER BY o, qo) AS qp
                  FROM q),
            f AS (SELECT * FROM l WHERE qp IS NOT NULL),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum((qs - qo) * (qs - qo)) AS sd,
                         sum((qo - qp) * (qo - qp)) AS sp
                  FROM f GROUP BY cell)
            SELECT cell, n,
                   CASE WHEN sp > 0 THEN
                        CAST(1000000 - {idiv_int('sd * 1000000',
                                                 'sp')}
                             AS DOUBLE) / 1000000.0
                   END AS ss_persist,
                   CASE WHEN sp > 0 THEN
                        CAST(floor(sqrt(CAST({idiv_int(
                            'sd * 1000000', 'sp')} AS DOUBLE)
                            / 1000000.0) * 1000000 + 0.5)
                             AS DOUBLE) / 1000000.0
                   END AS theils_u2
            FROM g
        """,
        # q_ffa_qq: the gumbel + plotting chains composed; per-row
        # variate seam, integer residuals
        "q_ffa_qq": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS cell, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            qv AS (SELECT cell, am AS value,
                          CAST(sign(am) * floor(abs(am) * 1000000
                                                + 0.5) AS HUGEINT)
                              AS qx,
                          row_number() OVER (PARTITION BY cell
                                             ORDER BY am) AS rank,
                          count(*) OVER (PARTITION BY cell) AS n
                   FROM ams),
            pp AS (SELECT cell, rank, value, qx,
                          {idiv_int(
                              '(100 * CAST(rank AS HUGEINT) - 44)'
                              ' * 1000000',
                              '100 * CAST(n AS HUGEINT) + 12')} AS pq
                   FROM qv),
            g2 AS (SELECT cell, qx,
                          row_number() OVER (PARTITION BY cell
                                             ORDER BY qx) AS i
                   FROM qv),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0, sum((i - 1) * qx) AS s1
                  FROM g2 GROUP BY cell),
            f AS (SELECT cell, n, {idiv_int('s0', 'n')} AS lam1,
                         CASE WHEN n >= 2 THEN
                              {idiv_int('2 * s1 - (n - 1) * s0',
                                        'n * (n - 1)')} END AS lam2
                  FROM g),
            b AS (SELECT cell, n, lam1,
                         CASE WHEN n >= 2 AND lam2 > 0 THEN
                              CAST(sign(CAST(lam2 AS DOUBLE)
                                        * {_INV_LN2})
                                   * floor(abs(CAST(lam2 AS DOUBLE)
                                               * {_INV_LN2}) + 0.5)
                                   AS HUGEINT) END AS beta
                  FROM f),
            x AS (SELECT cell, beta,
                         CASE WHEN beta IS NOT NULL THEN
                              lam1 - CAST(sign(CAST(beta AS DOUBLE)
                                               * {_EULER})
                                          * floor(abs(CAST(beta
                                                    AS DOUBLE)
                                                    * {_EULER}) + 0.5)
                                          AS HUGEINT) END AS xi
                  FROM b),
            jq AS (SELECT pp.cell, pp.rank, pp.value, pp.qx, pp.pq,
                          x.xi, x.beta,
                          CASE WHEN x.xi IS NOT NULL THEN
                               x.xi + CAST(sign(CAST(x.beta AS DOUBLE)
                                        * (-ln(-ln(CAST(pp.pq
                                             AS DOUBLE)
                                             / 1000000.0))))
                                    * floor(abs(CAST(x.beta AS DOUBLE)
                                        * (-ln(-ln(CAST(pp.pq
                                             AS DOUBLE)
                                             / 1000000.0)))) + 0.5)
                                    AS HUGEINT) END AS fit_mic
                   FROM pp JOIN x ON pp.cell = x.cell)
            SELECT cell, rank, value,
                   CAST(pq AS DOUBLE) / 1000000.0 AS p,
                   CAST(fit_mic AS DOUBLE) / 1000000.0 AS fitted,
                   CAST(qx - fit_mic AS DOUBLE) / 1000000.0
                       AS residual
            FROM jq
        """,
        # q_std_anomaly: integer-closed climatology moments, n-cleared
        # sqrt seam, exact z ratio per observation
        "q_std_anomaly": f"""
            WITH base AS (
                SELECT user_id % 3 AS cell, ts, value,
                       dayofyear(ts) AS doy,
                       CAST(sign(value) * floor(abs(value) * 1000000
                                                + 0.5) AS HUGEINT)
                           AS qx
                FROM events),
            sm AS (SELECT cell,
                          ((doy - 1 + o.o + 366) % 366) + 1 AS doy,
                          qx
                   FROM base CROSS JOIN (VALUES (-1), (0), (1)) o(o)),
            clim AS (SELECT cell, doy,
                            CAST(count(*) AS HUGEINT) AS cn,
                            sum(qx) AS cs, sum(qx * qx) AS css
                     FROM sm GROUP BY cell, doy),
            cf AS (SELECT cell, doy, cn,
                          {idiv_int('cs', 'cn')} AS mu,
                          {idiv_int(
                              'CAST(floor(sqrt(CAST(cn * css - cs * cs'
                              ' AS DOUBLE)) + 0.5) AS HUGEINT)',
                              'cn')} AS sig
                   FROM clim)
            SELECT b.cell, b.ts, b.value, b.doy,
                   CASE WHEN cn >= 2 AND sig > 0 THEN
                        {idiv_half_up('(qx - mu) * 1000000', 'sig',
                                      1000000)}
                   END AS z
            FROM base b JOIN cf
                 ON b.cell = cf.cell AND b.doy = cf.doy
        """,
        # q_low_flow: complete-window moving means over a RANGE frame,
        # min of engine-identical integers
        "q_low_flow": f"""
            WITH src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS v
                FROM events GROUP BY 1, 2),
            q AS (SELECT cell, CAST(t AS BIGINT) AS o,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM src),
            fr AS (SELECT cell,
                          sum(qx) OVER (PARTITION BY cell ORDER BY o
                                        RANGE BETWEEN 4 PRECEDING
                                        AND CURRENT ROW) AS ws,
                          count(*) OVER (PARTITION BY cell ORDER BY o
                                         RANGE BETWEEN 4 PRECEDING
                                         AND CURRENT ROW) AS wc
                   FROM q),
            mw AS (SELECT cell,
                          CASE WHEN wc = 5 THEN
                               {idiv_int('ws', '5')} END AS m
                   FROM fr)
            SELECT cell, CAST(count(m) AS BIGINT) AS n_windows,
                   CAST(min(m) AS DOUBLE) / 1000000.0 AS mam
            FROM mw GROUP BY cell
        """,
        # q_flashiness: path length / volume, one exact integer ratio
        "q_flashiness": f"""
            WITH src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS v
                FROM events GROUP BY 1, 2),
            q AS (SELECT cell, CAST(t AS BIGINT) AS o,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM src),
            d AS (SELECT cell, qx,
                         abs(qx - lag(qx) OVER (PARTITION BY cell
                                                ORDER BY o, qx))
                             AS dd
                  FROM q),
            g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n,
                         coalesce(sum(dd), 0) AS path,
                         sum(qx) AS vol
                  FROM d GROUP BY cell)
            SELECT cell, n,
                   CASE WHEN vol > 0 THEN
                        {idiv_half_up('path * 1000000', 'vol',
                                      1000000)}
                   END AS rb
            FROM g
        """,
        # q_plotting_pos: Gringorten cleared by 100 — p and T exact
        # integer ratios, zero seams
        "q_plotting_pos": f"""
            WITH ams AS (
                SELECT l_suppkey % 12 AS cell, year(l_shipdate) AS yr,
                       max(l_extendedprice / 1000.0) AS am
                FROM lineitem GROUP BY 1, 2),
            r AS (SELECT cell, am AS value,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY am) AS rank,
                         count(*) OVER (PARTITION BY cell) AS n
                  FROM ams)
            SELECT cell, rank, value,
                   {idiv_half_up(
                       '(100 * CAST(rank AS HUGEINT) - 44) * 1000000',
                       '100 * CAST(n AS HUGEINT) + 12', 1000000)}
                       AS p,
                   {idiv_half_up(
                       '(100 * CAST(n AS HUGEINT) + 12) * 1000000',
                       '100 * (CAST(n AS HUGEINT) - rank) + 56',
                       1000000)} AS t_years
            FROM r
        """,
        # q_error_summary: ME/MAE/PBIAS exact integer ratios, RMSE
        # integer mean-square + one sqrt seam
        "q_error_summary": f"""
            WITH src AS (
                SELECT o.o_orderpriority AS lead,
                       l.l_quantity AS sim,
                       (l.l_partkey % 47) + l.l_quantity * 0.5 + 1.0
                           AS obs
                FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
            q AS (SELECT lead,
                         CAST(sign(sim) * floor(abs(sim) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qs,
                         CAST(sign(obs) * floor(abs(obs) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qo
                  FROM src),
            g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n,
                         sum(qs - qo) AS sd,
                         sum(abs(qs - qo)) AS sa,
                         sum((qs - qo) * (qs - qo)) AS sq,
                         sum(qo) AS so
                  FROM q GROUP BY lead)
            SELECT lead, n,
                   {idiv_half_up('sd', 'CAST(n AS HUGEINT)', 1000000)}
                       AS me,
                   {idiv_half_up('sa', 'CAST(n AS HUGEINT)', 1000000)}
                       AS mae,
                   CAST(floor(sqrt(CAST(
                        {idiv_int('sq', 'CAST(n AS HUGEINT)')}
                        AS DOUBLE)) + 0.5) AS DOUBLE) / 1000000.0
                       AS rmse,
                   CASE WHEN so > 0 THEN
                        {idiv_half_up('100 * sd * 1000000', 'so',
                                      1000000)}
                   END AS pbias
            FROM g
        """,
        # q_chrf: char-gram chrF — the per-order F_beta collapsed to
        # (1+b2)c/(b2*b + a), all-integer, zero seams
        "q_chrf": f"""
            WITH b0 AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ',
                                            'g')) AS norm
                FROM documents
                WHERE doc_id < 400 AND length(trim(text)) > 0),
            pr AS (
                SELECT id, replace(norm, ' ', '') AS rs,
                       replace(array_to_string(
                           string_split(norm, ' ')[1:CAST(greatest(
                               floor(len(string_split(norm, ' '))
                                     * 0.8), 1) AS BIGINT)], ' ')
                           || ' zqx', ' ', '') AS cs
                FROM b0),
            cg AS (SELECT id, nn.n, substring(cs, u.pos, nn.n) AS g,
                          CAST(count(*) AS HUGEINT) AS c
                   FROM pr
                   CROSS JOIN (VALUES (2), (3), (4)) nn(n)
                   CROSS JOIN UNNEST(generate_series(
                        1, length(cs) - nn.n + 1)) AS u(pos)
                   GROUP BY id, nn.n, g),
            rg AS (SELECT id, nn.n, substring(rs, u.pos, nn.n) AS g,
                          CAST(count(*) AS HUGEINT) AS cr
                   FROM pr
                   CROSS JOIN (VALUES (2), (3), (4)) nn(n)
                   CROSS JOIN UNNEST(generate_series(
                        1, length(rs) - nn.n + 1)) AS u(pos)
                   GROUP BY id, nn.n, g),
            clip AS (SELECT id, n, sum(least(c, cr)) AS cl
                     FROM cg JOIN rg USING (id, n, g)
                     GROUP BY id, n),
            tc AS (SELECT id, n, sum(c) AS a FROM cg GROUP BY id, n),
            tr AS (SELECT id, n, sum(cr) AS b FROM rg GROUP BY id, n),
            pern AS (
                SELECT coalesce(tc.id, tr.id) AS id,
                       coalesce(tc.n, tr.n) AS n,
                       coalesce(a, 0) AS a, coalesce(b, 0) AS b,
                       coalesce(cl, 0) AS cl
                FROM tc FULL JOIN tr
                     ON tc.id = tr.id AND tc.n = tr.n
                LEFT JOIN clip
                     ON coalesce(tc.id, tr.id) = clip.id
                        AND coalesce(tc.n, tr.n) = clip.n),
            fq AS (SELECT id, n,
                          CASE WHEN 4 * b + a > 0 THEN
                               {idiv_int('5 * cl * 1000000',
                                         '4 * b + a')}
                               ELSE 0 END AS f
                   FROM pern),
            wide AS (
                SELECT b0.id,
                       coalesce(max(CASE WHEN n = 2 THEN f END), 0)
                           AS f2,
                       coalesce(max(CASE WHEN n = 3 THEN f END), 0)
                           AS f3,
                       coalesce(max(CASE WHEN n = 4 THEN f END), 0)
                           AS f4
                FROM b0 LEFT JOIN fq ON b0.id = fq.id
                GROUP BY b0.id)
            SELECT id AS doc_id,
                   CAST({idiv_int('f2 + f3 + f4', '3')}
                        AS DOUBLE) / 1000000.0 AS chrf,
                   CAST(f2 AS DOUBLE) / 1000000.0 AS f2,
                   CAST(f3 AS DOUBLE) / 1000000.0 AS f3,
                   CAST(f4 AS DOUBLE) / 1000000.0 AS f4
            FROM wide
        """,
        # q_srm: exact counts, one textual z seam, integer |z| gate
        "q_srm": """
            WITH src AS (
                SELECT o_orderpriority AS priority,
                       CASE WHEN o_custkey % 10 <
                                 (CASE WHEN o_orderpriority =
                                       '1-URGENT' THEN 6 ELSE 5 END)
                            THEN 'A' ELSE 'B' END AS variant
                FROM orders),
            g AS (SELECT priority,
                         CAST(sum(CASE WHEN variant = 'A' THEN 1
                                       ELSE 0 END) AS BIGINT) AS n_a,
                         CAST(sum(CASE WHEN variant = 'B' THEN 1
                                       ELSE 0 END) AS BIGINT) AS n_b
                  FROM src GROUP BY priority),
            z AS (SELECT priority, n_a, n_b,
                         CASE WHEN n_a + n_b > 0 THEN
                              CAST(sign((n_a - (n_a + n_b)
                                         * CAST(0.5 AS DOUBLE))
                                   / sqrt((n_a + n_b)
                                          * CAST(0.25 AS DOUBLE)))
                                   * floor(abs((n_a - (n_a + n_b)
                                           * CAST(0.5 AS DOUBLE))
                                      / sqrt((n_a + n_b)
                                             * CAST(0.25 AS DOUBLE)))
                                           * 1000000e0 + 5e-1)
                                   AS BIGINT) END AS zq
                  FROM g)
            SELECT priority, n_a, n_b,
                   CAST(zq AS DOUBLE) / 1000000.0 AS z,
                   CASE WHEN zq IS NOT NULL
                        THEN abs(zq) >= 3000000 END AS srm
            FROM z
        """,
        # q_winsorized: exact percentile caps, engine-identical
        # clamps, integer-micro mean
        "q_winsorized": f"""
            WITH caps AS (
                SELECT l_returnflag AS flag,
                       quantile_cont(l_extendedprice, 0.05) AS lo_cap,
                       quantile_cont(l_extendedprice, 0.95) AS hi_cap
                FROM lineitem GROUP BY 1),
            j AS (SELECT l.l_returnflag AS flag,
                         least(greatest(l.l_extendedprice, c.lo_cap),
                               c.hi_cap) AS v,
                         c.lo_cap, c.hi_cap
                  FROM lineitem l JOIN caps c
                       ON l.l_returnflag = c.flag),
            q AS (SELECT flag, lo_cap, hi_cap,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qv
                  FROM j)
            SELECT flag, CAST(count(*) AS BIGINT) AS n,
                   max(lo_cap) AS lo_cap, max(hi_cap) AS hi_cap,
                   {idiv_half_up('sum(qv)',
                                 'CAST(count(*) AS HUGEINT)',
                                 1000000)} AS wmean
            FROM q GROUP BY flag
        """,
        # q_hurst: the R/S ladder — m-cleared integer deviations, one
        # sqrt seam per block, integer-space R/S means, log-log OLS
        "q_hurst": f"""
            WITH e AS (
                SELECT user_id % 4 AS cell,
                       row_number() OVER (PARTITION BY user_id % 4
                                          ORDER BY ts, event_id) - 1
                           AS t,
                       CAST(sign(value) * floor(abs(value) * 1000000
                                                + 0.5) AS HUGEINT)
                           AS qx
                FROM events),
            w AS (SELECT cell, t, qx, mm.m, t // mm.m AS blk
                  FROM e CROSS JOIN (VALUES (16), (64), (256)) mm(m)),
            b AS (SELECT cell, m, blk,
                         CAST(count(*) AS HUGEINT) AS cnt,
                         sum(qx) AS s1, sum(qx * qx) AS s2
                  FROM w GROUP BY cell, m, blk),
            bf AS (SELECT cell, m, blk, s1,
                          CAST(m AS HUGEINT) * s2 - s1 * s1 AS varn
                   FROM b WHERE cnt = m),
            p AS (SELECT w.cell, w.m, w.blk, bf.varn,
                         sum(CAST(w.m AS HUGEINT) * w.qx - bf.s1)
                             OVER (PARTITION BY w.cell, w.m, w.blk
                                   ORDER BY w.t
                                   ROWS UNBOUNDED PRECEDING) AS z
                  FROM w JOIN bf ON w.cell = bf.cell AND w.m = bf.m
                         AND w.blk = bf.blk),
            r AS (SELECT cell, m, blk, max(z) - min(z) AS rm,
                         max(varn) AS vn
                  FROM p GROUP BY cell, m, blk),
            r2 AS (SELECT cell, m, rm,
                          CAST(floor(sqrt(CAST(vn AS DOUBLE)) + 0.5)
                               AS HUGEINT) AS qs
                   FROM r),
            rs AS (SELECT cell, m,
                          {idiv_int('rm * 1000000', 'qs')} AS rsv
                   FROM r2 WHERE qs > 0),
            pm AS (SELECT cell, m,
                          {idiv_int('sum(rsv)', 'count(*)')} AS rsm
                   FROM rs GROUP BY cell, m),
            pt AS (SELECT cell,
                          CAST(CASE m WHEN 16 THEN {_LNM[16]}
                                      WHEN 64 THEN {_LNM[64]}
                                      WHEN 256 THEN {_LNM[256]} END
                               AS HUGEINT) AS lx,
                          CAST(sign(ln(CAST(rsm AS DOUBLE)
                                       / 1000000.0) * 1000000)
                               * floor(abs(ln(CAST(rsm AS DOUBLE)
                                              / 1000000.0) * 1000000)
                                       + 0.5) AS HUGEINT) AS ly
                   FROM pm WHERE rsm > 0),
            f AS (SELECT cell, CAST(count(*) AS BIGINT) AS k_sizes,
                         sum(lx) AS sx, sum(ly) AS sy,
                         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
                  FROM pt GROUP BY cell)
            SELECT cell, k_sizes,
                   CASE WHEN k_sizes >= 2
                             AND k_sizes * sxx - sx * sx > 0 THEN
                        {idiv_half_up(
                            '(k_sizes * sxy - sx * sy) * 1000000',
                            'k_sizes * sxx - sx * sx', 1000000)}
                   END AS hurst
            FROM f
        """,
        # q_baseflow: the clamped Lyne-Hollick recursion as a
        # recursive CTE (greatest() clamps), BFI in integer space
        "q_baseflow": f"""
            WITH RECURSIVE src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS v
                FROM events GROUP BY 1, 2),
            s AS (SELECT cell, v,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY t, v) AS rn
                  FROM src),
            r AS (
                SELECT cell, v, rn, CAST(0.0 AS DOUBLE) AS f
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.cell, s.v, s.rn,
                       {_LH_A} * r.f + {_LH_B} * (s.v - r.v)
                FROM s JOIN r
                     ON s.cell = r.cell AND s.rn = r.rn + 1),
            b AS (SELECT cell, v,
                         greatest(v - greatest(f, 0.0), 0.0) AS bf
                  FROM r),
            q AS (SELECT cell,
                         CAST(sign(bf) * floor(abs(bf) * 1000000
                                               + 0.5) AS HUGEINT)
                             AS qb,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qq
                  FROM b)
            SELECT cell, CAST(count(*) AS BIGINT) AS n,
                   CASE WHEN sum(qq) > 0 THEN
                        {idiv_half_up('sum(qb) * 1000000', 'sum(qq)',
                                      1000000)}
                   END AS bfi
            FROM q GROUP BY cell
        """,
        # q_drought_runs: the POT islands chain on the deficit side,
        # exact integer severity, integer-space intensity
        "q_drought_runs": f"""
            WITH daily AS (
                SELECT user_id % 6 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS d,
                       min(value) AS v
                FROM events GROUP BY 1, 2),
            e AS (SELECT cell, CAST(d AS BIGINT) AS o,
                         CAST(sign(v) * floor(abs(v) * 1000000 + 0.5)
                              AS HUGEINT) AS qx,
                         CAST(sign(0.8 - v)
                              * floor(abs(0.8 - v) * 1000000 + 0.5)
                              AS HUGEINT) AS qd
                  FROM daily WHERE v < 0.8),
            g AS (SELECT cell, o, qx, qd,
                         CASE WHEN o - lag(o) OVER (
                                  PARTITION BY cell ORDER BY o, qx)
                                  > 1
                              THEN 1 ELSE 0 END AS nw
                  FROM e),
            c AS (SELECT cell, o, qx, qd,
                         CAST(sum(nw) OVER (PARTITION BY cell
                                            ORDER BY o, qx
                                            ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS run
                  FROM g)
            SELECT cell, run, min(o) AS start_o, max(o) AS end_o,
                   CAST(count(*) AS BIGINT) AS duration,
                   CAST(sum(qd) AS DOUBLE) / 1000000.0 AS severity,
                   {idiv_half_up('sum(qd)',
                                 'CAST(count(*) AS HUGEINT)',
                                 1000000)} AS intensity,
                   CAST(min(qx) AS DOUBLE) / 1000000.0 AS min_value
            FROM c GROUP BY cell, run
        """,
        # q_muskingum: the applyInPandas recurrence as a recursive CTE
        # walking the IDENTICAL left-associated IEEE tree — raw-double
        # parity, no rounding seam
        "q_muskingum": f"""
            WITH RECURSIVE src AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS t,
                       max(value) AS inflow
                FROM events GROUP BY 1, 2),
            s AS (SELECT cell, CAST(t AS INT) AS t, inflow,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY t, inflow) AS rn
                  FROM src),
            r AS (
                SELECT cell, t, inflow, rn, inflow AS outflow
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.cell, s.t, s.inflow, s.rn,
                       ({_MC0} * s.inflow + {_MC1} * r.inflow)
                           + {_MC2} * r.outflow
                FROM s JOIN r
                     ON s.cell = r.cell AND s.rn = r.rn + 1)
            SELECT cell, t, inflow, outflow FROM r
        """,
        # q_doy_climatology: circular day-of-year wheel + exact
        # interpolated quantiles (percentile == quantile_cont)
        "q_doy_climatology": """
            WITH base AS (
                SELECT user_id % 4 AS cell, dayofyear(ts) AS d,
                       value AS v
                FROM events),
            sm AS (
                SELECT cell, ((d - 1 + off.o + 366) % 366) + 1 AS doy,
                       v
                FROM base CROSS JOIN (VALUES (-2), (-1), (0), (1), (2))
                     off(o))
            SELECT cell, doy, CAST(count(*) AS BIGINT) AS n,
                   quantile_cont(v, 0.25) AS q25,
                   quantile_cont(v, 0.5) AS q50,
                   quantile_cont(v, 0.75) AS q75
            FROM sm GROUP BY cell, doy
        """,
        # q_idw: the q_radius_join brute-force distance relation
        # finished by the exact-integer Shepard aggregate
        "q_idw": f"""
            WITH rcells AS (
                SELECT p_retailprice AS val,
                       round(0.025 + (p_partkey % 200) * 0.05, 3)
                           AS latitude,
                       round(0.025 + ((p_partkey // 200) % 200) * 0.05,
                             3) AS longitude
                FROM part),
            rpts AS (
                SELECT n_nationkey * 0.25 + 0.01 AS qlat,
                       (n_nationkey % 3) * 0.15 + 0.02 AS qlon,
                       n_nationkey AS point_id
                FROM nation),
            rdist AS (
                SELECT p.point_id, c.val,
                       round(2 * 6371.0088 * asin(sqrt(
                           pow(sin(radians(p.qlat - c.latitude) / 2), 2)
                           + cos(radians(c.latitude))
                             * cos(radians(p.qlat))
                             * pow(sin(radians(p.qlon - c.longitude)
                                       / 2), 2))), 6) AS distance_km
                FROM rcells c, rpts p),
            w AS (
                SELECT point_id,
                       {idiv_int(
                           '1000000000000000000',
                           'greatest(CAST(floor(distance_km '
                           '* distance_km * 1000000 + 0.5) '
                           'AS HUGEINT), 1)')} AS wq,
                       CAST(sign(val) * floor(abs(val) * 1000000
                                              + 0.5) AS HUGEINT) AS vq
                FROM rdist WHERE distance_km <= 30.0)
            SELECT point_id, count(*) AS n_stations,
                   {idiv_half_up('sum(wq * vq)', 'sum(wq)', 1000000)}
                       AS idw
            FROM w GROUP BY point_id
        """,
        # q_bleu: rouge-style (id, n, gram) join generalized to the
        # 1..4 order dimension; p_n integer micros, ln/exp/BP seams
        # quantized floor(+0.5) exactly as the operator
        "q_bleu": f"""
            WITH base AS (
                SELECT doc_id AS id, lang,
                       string_split(lower(regexp_replace(trim(text),
                                    '\\s+', ' ', 'g')), ' ') AS rl
                FROM documents
                WHERE doc_id < 1500 AND length(trim(text)) > 0),
            pr AS (
                SELECT id, lang, rl,
                       list_concat(rl[1:CAST(greatest(
                           floor(len(rl) * 0.8), 1) AS BIGINT)],
                           ['zqx']) AS cl
                FROM base),
            cg AS (
                SELECT lang, id, nn.n,
                       array_to_string(cl[u.pos:u.pos + nn.n - 1],
                                       ' ') AS g,
                       CAST(count(*) AS HUGEINT) AS c
                FROM pr
                CROSS JOIN (VALUES (1), (2), (3), (4)) nn(n)
                CROSS JOIN UNNEST(generate_series(
                     1, len(cl) - nn.n + 1)) AS u(pos)
                GROUP BY lang, id, nn.n, g),
            rg AS (
                SELECT id, nn.n,
                       array_to_string(rl[u.pos:u.pos + nn.n - 1],
                                       ' ') AS g,
                       CAST(count(*) AS HUGEINT) AS cr
                FROM pr
                CROSS JOIN (VALUES (1), (2), (3), (4)) nn(n)
                CROSS JOIN UNNEST(generate_series(
                     1, len(rl) - nn.n + 1)) AS u(pos)
                GROUP BY id, nn.n, g),
            clip AS (
                SELECT lang, n, sum(least(c, cr)) AS cl_n
                FROM cg JOIN rg USING (id, n, g)
                GROUP BY lang, n),
            tot AS (SELECT lang, n, sum(c) AS t_n
                    FROM cg GROUP BY lang, n),
            lens AS (SELECT lang,
                            CAST(sum(len(cl)) AS BIGINT) AS c_len,
                            CAST(sum(len(rl)) AS BIGINT) AS r_len
                     FROM pr GROUP BY lang),
            wide AS (
                SELECT t.lang,
                       max(CASE WHEN t.n = 1 THEN t.t_n END) AS t1,
                       max(CASE WHEN t.n = 2 THEN t.t_n END) AS t2,
                       max(CASE WHEN t.n = 3 THEN t.t_n END) AS t3,
                       max(CASE WHEN t.n = 4 THEN t.t_n END) AS t4,
                       max(CASE WHEN t.n = 1
                           THEN coalesce(c2.cl_n, 0) END) AS cl1,
                       max(CASE WHEN t.n = 2
                           THEN coalesce(c2.cl_n, 0) END) AS cl2,
                       max(CASE WHEN t.n = 3
                           THEN coalesce(c2.cl_n, 0) END) AS cl3,
                       max(CASE WHEN t.n = 4
                           THEN coalesce(c2.cl_n, 0) END) AS cl4
                FROM tot t LEFT JOIN clip c2
                     ON t.lang = c2.lang AND t.n = c2.n
                GROUP BY t.lang),
            pp AS (
                SELECT lang, t1, t2, t3, t4, cl1, cl2, cl3, cl4,
                       CASE WHEN t1 > 0 AND cl1 > 0 THEN
                            {idiv_int('cl1 * 1000000', 't1')} END AS q1,
                       CASE WHEN t2 > 0 AND cl2 > 0 THEN
                            {idiv_int('cl2 * 1000000', 't2')} END AS q2,
                       CASE WHEN t3 > 0 AND cl3 > 0 THEN
                            {idiv_int('cl3 * 1000000', 't3')} END AS q3,
                       CASE WHEN t4 > 0 AND cl4 > 0 THEN
                            {idiv_int('cl4 * 1000000', 't4')} END AS q4
                FROM wide),
            lg AS (
                SELECT lang, t1, t2, t3, t4, cl1, cl2, cl3, cl4,
                       q1, q2, q3, q4,
                       CAST(sign(ln(CAST(q1 AS DOUBLE) / 1000000.0)
                                 * 1000000)
                            * floor(abs(ln(CAST(q1 AS DOUBLE)
                                           / 1000000.0) * 1000000)
                                    + 0.5) AS HUGEINT) AS l1,
                       CAST(sign(ln(CAST(q2 AS DOUBLE) / 1000000.0)
                                 * 1000000)
                            * floor(abs(ln(CAST(q2 AS DOUBLE)
                                           / 1000000.0) * 1000000)
                                    + 0.5) AS HUGEINT) AS l2,
                       CAST(sign(ln(CAST(q3 AS DOUBLE) / 1000000.0)
                                 * 1000000)
                            * floor(abs(ln(CAST(q3 AS DOUBLE)
                                           / 1000000.0) * 1000000)
                                    + 0.5) AS HUGEINT) AS l3,
                       CAST(sign(ln(CAST(q4 AS DOUBLE) / 1000000.0)
                                 * 1000000)
                            * floor(abs(ln(CAST(q4 AS DOUBLE)
                                           / 1000000.0) * 1000000)
                                    + 0.5) AS HUGEINT) AS l4
                FROM pp),
            fin AS (
                SELECT lg.lang, lens.c_len, lens.r_len,
                       q1, q2, q3, q4,
                       (t1 IS NOT NULL AND t1 > 0 AND t2 IS NOT NULL
                        AND t2 > 0 AND t3 IS NOT NULL AND t3 > 0
                        AND t4 IS NOT NULL AND t4 > 0) AS defined,
                       ((t1 > 0 AND cl1 = 0) OR (t2 > 0 AND cl2 = 0)
                        OR (t3 > 0 AND cl3 = 0)
                        OR (t4 > 0 AND cl4 = 0)) AS zc,
                       CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL
                                 AND q3 IS NOT NULL AND q4 IS NOT NULL
                            THEN CAST(floor(exp(CAST(
                                 {idiv_int('(l1 + l2 + l3 + l4) * 2',
                                           '8')}
                                 AS DOUBLE) / 1000000.0) * 1000000
                                 + 0.5) AS HUGEINT) END AS geo,
                       CASE WHEN lens.c_len >= lens.r_len
                            THEN CAST(1000000 AS HUGEINT)
                            ELSE CAST(floor(exp(
                                 (CAST(lens.c_len AS DOUBLE)
                                  - CAST(lens.r_len AS DOUBLE))
                                 / CAST(lens.c_len AS DOUBLE))
                                 * 1000000 + 0.5) AS HUGEINT)
                       END AS bpq
                FROM lg JOIN lens ON lg.lang = lens.lang)
            SELECT lang, c_len, r_len,
                   CAST(q1 AS DOUBLE) / 1000000.0 AS p1,
                   CAST(q2 AS DOUBLE) / 1000000.0 AS p2,
                   CAST(q3 AS DOUBLE) / 1000000.0 AS p3,
                   CAST(q4 AS DOUBLE) / 1000000.0 AS p4,
                   CASE WHEN defined THEN
                        CAST(bpq AS DOUBLE) / 1000000.0 END AS bp,
                   CASE WHEN defined AND zc THEN 0.0
                        WHEN defined THEN
                        CAST({idiv_int('bpq * geo', '1000000')}
                             AS DOUBLE) / 1000000.0
                   END AS bleu
            FROM fin
        """,
        # q_ks_test: integer-exact ECDF sup (ties collapsed to
        # distinct-value cells first), one critical-value sqrt seam
        "q_ks_test": f"""
            WITH e AS (
                SELECT user_id % 6 AS cell, event_type AS lab,
                       value AS v
                FROM events
                WHERE event_type IN ('click', 'error')),
            cells AS (SELECT cell, v,
                             sum(CASE WHEN lab = 'click' THEN 1
                                      ELSE 0 END) AS ca,
                             sum(CASE WHEN lab = 'error' THEN 1
                                      ELSE 0 END) AS cb
                      FROM e GROUP BY cell, v),
            c AS (SELECT cell,
                         sum(ca) OVER (PARTITION BY cell ORDER BY v
                                       ROWS UNBOUNDED PRECEDING)
                             AS fa,
                         sum(cb) OVER (PARTITION BY cell ORDER BY v
                                       ROWS UNBOUNDED PRECEDING)
                             AS fb,
                         sum(ca) OVER (PARTITION BY cell) AS na,
                         sum(cb) OVER (PARTITION BY cell) AS nb
                  FROM cells),
            g AS (SELECT cell, CAST(max(na) AS BIGINT) AS n_a,
                         CAST(max(nb) AS BIGINT) AS n_b,
                         max(abs(CAST(fa AS HUGEINT)
                                 * CAST(nb AS HUGEINT)
                                 - CAST(fb AS HUGEINT)
                                 * CAST(na AS HUGEINT))) AS dnum
                  FROM c GROUP BY cell),
            f AS (SELECT cell, n_a, n_b, dnum,
                         (n_a > 0 AND n_b > 0) AS ok,
                         CAST(n_a AS HUGEINT) * n_b AS nn,
                         CAST(floor(1.358
                                    * sqrt(CAST(n_a + n_b AS DOUBLE)
                                           / CAST(CAST(n_a AS HUGEINT)
                                                  * n_b AS DOUBLE))
                                    * 1000000 + 0.5) AS HUGEINT)
                             AS qcrit
                  FROM g)
            SELECT cell, n_a, n_b,
                   CASE WHEN ok THEN
                        {idiv_half_up('dnum * 1000000', 'nn', 1000000)}
                   END AS d,
                   CASE WHEN ok THEN
                        CAST(qcrit AS DOUBLE) / 1000000.0
                   END AS crit_05,
                   CASE WHEN ok THEN
                        {idiv_int('dnum * 1000000', 'nn')} > qcrit
                   END AS reject_05
            FROM f
        """,
        # q_mann_kendall: series-bounded pairwise join, exact S + tie
        # spectrum, one Var(S) sqrt seam, integer-space Z and the
        # rank-picked Sen median
        "q_mann_kendall": f"""
            WITH series AS (
                SELECT l_suppkey % 10 AS cell,
                       year(l_shipdate) * 12 + month(l_shipdate) AS t,
                       max(l_extendedprice / 1000.0) AS x
                FROM lineitem GROUP BY 1, 2),
            b AS (SELECT cell, CAST(t AS BIGINT) AS t,
                         CAST(sign(x) * floor(abs(x) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM series),
            p AS (SELECT a.cell, a.t AS ti, a.qx AS xi,
                         c.t AS tj, c.qx AS xj
                  FROM b a JOIN b c
                       ON a.cell = c.cell AND a.t < c.t),
            sl AS (SELECT cell,
                          CASE WHEN xj > xi THEN 1
                               WHEN xj < xi THEN -1 ELSE 0 END AS sgn,
                          {idiv_int('xj - xi', 'tj - ti')} AS slope
                   FROM p),
            sagg AS (SELECT cell, CAST(sum(sgn) AS BIGINT) AS s
                     FROM sl GROUP BY cell),
            rk AS (SELECT cell, slope,
                          row_number() OVER (PARTITION BY cell
                                             ORDER BY slope) AS r,
                          count(*) OVER (PARTITION BY cell) AS m
                   FROM sl),
            md AS (SELECT cell,
                          {idiv_int('sum(slope)', 'count(*)')} AS med
                   FROM rk
                   WHERE r = (m + 1) // 2 OR r = m // 2 + 1
                   GROUP BY cell),
            tie AS (SELECT cell, qx, CAST(count(*) AS HUGEINT) AS tc
                    FROM b GROUP BY cell, qx),
            tg AS (SELECT cell,
                          sum(tc * (tc - 1) * (2 * tc + 5)) AS tsum,
                          CAST(sum(tc) AS BIGINT) AS n
                   FROM tie GROUP BY cell),
            v AS (SELECT cell, n,
                         CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                             - tsum AS var18
                  FROM tg),
            j AS (SELECT v.cell, v.n, v.var18, sagg.s, md.med,
                         CASE WHEN s > 0 THEN CAST(s AS HUGEINT) - 1
                              WHEN s < 0 THEN CAST(s AS HUGEINT) + 1
                              ELSE 0 END AS zshift,
                         CAST(floor(sqrt(CAST(var18 AS DOUBLE) / 18.0)
                                    * 1000000 + 0.5) AS HUGEINT)
                             AS qden
                  FROM v JOIN sagg ON v.cell = sagg.cell
                         LEFT JOIN md ON v.cell = md.cell),
            zz AS (SELECT cell, n, s, med, var18,
                          CASE WHEN var18 > 0 THEN
                               {idiv_int('zshift * 1000000000000',
                                         'qden')} END AS zq
                   FROM j)
            SELECT cell, n, s,
                   CAST(zq AS DOUBLE) / 1000000.0 AS z,
                   CAST(med AS DOUBLE) / 1000000.0 AS sen_slope,
                   CASE WHEN zq IS NULL THEN 'no trend'
                        WHEN abs(zq) >= 1959964 AND s > 0
                             THEN 'increasing'
                        WHEN abs(zq) >= 1959964 AND s < 0
                             THEN 'decreasing'
                        ELSE 'no trend' END AS trend
            FROM zz
        """,
        # q_seasonal_mk: the Hirsch-Slack combine — per-season pairs
        # and tie variances, S and Var(S) summed, the SAME sqrt seam
        "q_seasonal_mk": f"""
            WITH series AS (
                SELECT l_suppkey % 8 AS cell,
                       month(l_shipdate) AS season,
                       year(l_shipdate) AS t,
                       max(l_extendedprice / 1000.0) AS x
                FROM lineitem GROUP BY 1, 2, 3),
            b AS (SELECT cell, season, CAST(t AS BIGINT) AS t,
                         CAST(sign(x) * floor(abs(x) * 1000000 + 0.5)
                              AS HUGEINT) AS qx
                  FROM series),
            p AS (SELECT a.cell, a.t AS ti, a.qx AS xi,
                         c.t AS tj, c.qx AS xj
                  FROM b a JOIN b c
                       ON a.cell = c.cell AND a.season = c.season
                          AND a.t < c.t),
            sl AS (SELECT cell,
                          CASE WHEN xj > xi THEN 1
                               WHEN xj < xi THEN -1 ELSE 0 END AS sgn,
                          {idiv_int('xj - xi', 'tj - ti')} AS slope
                   FROM p),
            sagg AS (SELECT cell, CAST(sum(sgn) AS BIGINT) AS s
                     FROM sl GROUP BY cell),
            rk AS (SELECT cell, slope,
                          row_number() OVER (PARTITION BY cell
                                             ORDER BY slope) AS r,
                          count(*) OVER (PARTITION BY cell) AS m
                   FROM sl),
            md AS (SELECT cell,
                          {idiv_int('sum(slope)', 'count(*)')} AS med
                   FROM rk
                   WHERE r = (m + 1) // 2 OR r = m // 2 + 1
                   GROUP BY cell),
            tie AS (SELECT cell, season, qx,
                           CAST(count(*) AS HUGEINT) AS tc
                    FROM b GROUP BY cell, season, qx),
            tm AS (SELECT cell, season,
                          sum(tc * (tc - 1) * (2 * tc + 5)) AS tsum,
                          CAST(sum(tc) AS HUGEINT) AS nm
                   FROM tie GROUP BY cell, season),
            vm AS (SELECT cell, season, nm,
                          nm * (nm - 1) * (2 * nm + 5) - tsum AS v18
                   FROM tm),
            cmb AS (SELECT cell, CAST(sum(nm) AS BIGINT) AS n,
                           CAST(count(*) AS BIGINT) AS n_seasons,
                           sum(v18) AS var18
                    FROM vm GROUP BY cell),
            j AS (SELECT cmb.cell, cmb.n, cmb.n_seasons, cmb.var18,
                         coalesce(sagg.s, 0) AS s, md.med,
                         CASE WHEN coalesce(sagg.s, 0) > 0
                              THEN CAST(sagg.s AS HUGEINT) - 1
                              WHEN coalesce(sagg.s, 0) < 0
                              THEN CAST(sagg.s AS HUGEINT) + 1
                              ELSE 0 END AS zshift,
                         CAST(floor(sqrt(CAST(var18 AS DOUBLE) / 18.0)
                                    * 1000000 + 0.5) AS HUGEINT)
                             AS qden
                  FROM cmb LEFT JOIN sagg ON cmb.cell = sagg.cell
                         LEFT JOIN md ON cmb.cell = md.cell),
            zz AS (SELECT cell, n, n_seasons, s, med, var18,
                          CASE WHEN var18 > 0 THEN
                               {idiv_int('zshift * 1000000000000',
                                         'qden')} END AS zq
                   FROM j)
            SELECT cell, n, n_seasons, s,
                   CAST(zq AS DOUBLE) / 1000000.0 AS z,
                   CAST(med AS DOUBLE) / 1000000.0 AS sen_slope,
                   CASE WHEN zq IS NULL THEN 'no trend'
                        WHEN abs(zq) >= 1959964 AND s > 0
                             THEN 'increasing'
                        WHEN abs(zq) >= 1959964 AND s < 0
                             THEN 'decreasing'
                        ELSE 'no trend' END AS trend
            FROM zz
        """,
        # q_fim: md5-prefix selection + md5-derived cuts + PSM
        # reassembly — pure projection, mirrored verbatim (cut seeds
        # are two 60-bit hex windows of md5(id||'fim/cuts'), valid
        # for any id type — the round-15 ADVICE fix)
        "q_fim": f"""
            WITH base AS (
                SELECT doc_id, text, length(text) AS ln,
                       substr(md5(CAST(doc_id AS VARCHAR) || 'fim'),
                              1, 4) < '{_FIM_CUT}'
                           AND length(text) >= 32 AS chosen
                FROM documents),
            seeds AS (
                SELECT doc_id, text, ln, chosen,
                       CAST(concat('0x', substr(md5(
                            CAST(doc_id AS VARCHAR) || 'fim/cuts'),
                            1, 15)) AS BIGINT) AS s1,
                       CAST(concat('0x', substr(md5(
                            CAST(doc_id AS VARCHAR) || 'fim/cuts'),
                            17, 15)) AS BIGINT) AS s2
                FROM base),
            cuts AS (
                SELECT doc_id, text, ln, chosen,
                       least(1 + s1 % (ln - 1),
                             1 + s2 % (ln - 1)) AS p1,
                       greatest(1 + s1 % (ln - 1),
                                1 + s2 % (ln - 1)) AS p2
                FROM seeds),
            parts AS (
                SELECT doc_id, text, chosen,
                       substr(text, 1, CAST(p1 AS BIGINT)) AS pre,
                       substr(text, CAST(p1 + 1 AS BIGINT),
                              CAST(p2 - p1 AS BIGINT)) AS mid,
                       substr(text, CAST(p2 + 1 AS BIGINT),
                              CAST(ln - p2 AS BIGINT)) AS suf
                FROM cuts)
            SELECT doc_id AS id, chosen AS fim_applied,
                   CASE WHEN chosen THEN pre END AS prefix,
                   CASE WHEN chosen THEN mid END AS middle,
                   CASE WHEN chosen THEN suf END AS suffix,
                   CASE WHEN chosen THEN
                        '<|fim_pre|>' || pre || '<|fim_suf|>' || suf
                        || '<|fim_mid|>' || mid
                   ELSE text END AS fim_text
            FROM parts
        """,
        # q_idf: integer rolling depths per duration, weekly block
        # maxima, then the q_gumbel_return chain keyed by
        # (cell, duration)
        "q_idf": f"""
            WITH daily AS (
                SELECT user_id % 4 AS cell, day(ts) AS o,
                       max(value) AS rain
                FROM events GROUP BY 1, 2),
            q0 AS (SELECT cell, CAST(o AS BIGINT) AS o,
                          CAST((o - 1) // 7 AS INT) AS blk,
                          CAST(sign(rain) * floor(abs(rain) * 1000000
                               + 0.5) AS HUGEINT) AS qv
                   FROM daily),
            roll AS ({_IDF_ROLL}),
            ams AS (SELECT cell, duration, blk,
                           max(CAST(rs AS DOUBLE) / 1000000.0) AS am
                    FROM roll GROUP BY cell, duration, blk),
            q AS (SELECT cell, duration,
                         CAST(sign(am) * floor(abs(am) * 1000000
                                               + 0.5) AS HUGEINT)
                             AS qx
                  FROM ams),
            r AS (SELECT cell, duration, qx,
                         row_number() OVER (PARTITION BY cell, duration
                                            ORDER BY qx) AS i
                  FROM q),
            g AS (SELECT cell, duration,
                         CAST(count(*) AS BIGINT) AS n,
                         sum(qx) AS s0, sum((i - 1) * qx) AS s1
                  FROM r GROUP BY cell, duration),
            f AS (SELECT cell, duration, n,
                         {idiv_int('s0', 'n')} AS lam1,
                         CASE WHEN n >= 2 THEN
                              {idiv_int('2 * s1 - (n - 1) * s0',
                                        'n * (n - 1)')} END AS lam2
                  FROM g),
            b AS (SELECT cell, duration, n, lam1,
                         CASE WHEN n >= 2 AND lam2 > 0 THEN
                              CAST(sign(CAST(lam2 AS DOUBLE)
                                        * {_INV_LN2})
                                   * floor(abs(CAST(lam2 AS DOUBLE)
                                               * {_INV_LN2}) + 0.5)
                                   AS HUGEINT) END AS beta
                  FROM f),
            x AS (SELECT cell, duration, n, beta,
                         CASE WHEN beta IS NOT NULL THEN
                              lam1 - CAST(sign(CAST(beta AS DOUBLE)
                                               * {_EULER})
                                          * floor(abs(CAST(beta
                                                    AS DOUBLE)
                                                    * {_EULER}) + 0.5)
                                          AS HUGEINT) END AS xi
                  FROM b)
            SELECT cell, duration, n, p.period,
                   CAST(xi AS DOUBLE) / 1000000.0 AS loc,
                   CAST(beta AS DOUBLE) / 1000000.0 AS scale,
                   CASE WHEN xi IS NOT NULL THEN
                        CAST(xi + CAST(sign(CAST(beta AS DOUBLE)
                                            * p.yt)
                                       * floor(abs(CAST(beta AS DOUBLE)
                                                   * p.yt) + 0.5)
                                       AS HUGEINT)
                             AS DOUBLE) / 1000000.0 END AS level
            FROM x CROSS JOIN (VALUES (2, {_GV[2]}),
                                      (20, {_GV[20]}))
                 AS p(period, yt)
        """,
        # q_nse: the n-cleared Nash–Sutcliffe identity — one exact
        # integer ratio (D − n·SSE)/D over micro-quantized series,
        # rounded half-up in integer space
        "q_nse": f"""
            WITH src AS (
                SELECT o.o_orderpriority AS lead,
                       l.l_quantity AS sim,
                       (l.l_partkey % 47) + l.l_quantity * 0.5 + 1.0
                           AS obs
                FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
            q AS (SELECT lead,
                         CAST(sign(sim) * floor(abs(sim) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qs,
                         CAST(sign(obs) * floor(abs(obs) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qo
                  FROM src),
            g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n,
                         sum((qs - qo) * (qs - qo)) AS sse,
                         sum(qo) AS so, sum(qo * qo) AS soo
                  FROM q GROUP BY lead),
            d AS (SELECT lead, n,
                         n * soo - so * so AS den,
                         (n * soo - so * so) - n * sse AS num
                  FROM g)
            SELECT lead, n,
                   CASE WHEN den > 0 THEN
                        {idiv_half_up('num * 1000000', 'den', 1000000)}
                   END AS nse
            FROM d
        """,
        # q_kge: r by the ACC sqrt-quantize recipe, alpha the ratio of
        # the same two quantized sqrts, beta exact, the Euclidean
        # distance one final quantized sqrt seam
        "q_kge": f"""
            WITH src AS (
                SELECT o.o_orderpriority AS lead,
                       l.l_quantity AS sim,
                       (l.l_partkey % 47) + l.l_quantity * 0.5 + 1.0
                           AS obs
                FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
            q AS (SELECT lead,
                         CAST(sign(sim) * floor(abs(sim) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qs,
                         CAST(sign(obs) * floor(abs(obs) * 1000000
                                                + 0.5) AS HUGEINT)
                             AS qo
                  FROM src),
            g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n,
                         sum(qs) AS ss, sum(qo) AS so,
                         sum(qs * qs) AS sss, sum(qo * qo) AS soo,
                         sum(qs * qo) AS sso
                  FROM q GROUP BY lead),
            v AS (SELECT lead, n, ss, so,
                         n * sso - ss * so AS covn,
                         n * sss - ss * ss AS vars,
                         n * soo - so * so AS varo
                  FROM g),
            s AS (SELECT lead, n, ss, so, covn, vars, varo,
                         CAST(floor(sqrt(CAST(vars AS DOUBLE)) + 0.5)
                              AS HUGEINT) AS qss,
                         CAST(floor(sqrt(CAST(varo AS DOUBLE)) + 0.5)
                              AS HUGEINT) AS qso
                  FROM v),
            m AS (SELECT lead, n,
                         (vars > 0 AND varo > 0 AND so > 0) AS ok,
                         CASE WHEN vars > 0 AND varo > 0 AND so > 0
                              THEN {idiv_int('covn * 1000000',
                                             'qss * qso')} END AS rm,
                         CASE WHEN vars > 0 AND varo > 0 AND so > 0
                              THEN {idiv_int('qss * 1000000', 'qso')}
                              END AS am,
                         CASE WHEN vars > 0 AND varo > 0 AND so > 0
                              THEN {idiv_int('ss * 1000000', 'so')}
                              END AS bm
                  FROM s)
            SELECT lead, n,
                   CASE WHEN ok THEN CAST(rm AS DOUBLE) / 1000000.0
                        END AS r,
                   CASE WHEN ok THEN CAST(am AS DOUBLE) / 1000000.0
                        END AS alpha,
                   CASE WHEN ok THEN CAST(bm AS DOUBLE) / 1000000.0
                        END AS beta,
                   CASE WHEN ok THEN
                        CAST(1000000 - CAST(floor(sqrt(CAST(
                                 (rm - 1000000) * (rm - 1000000)
                               + (am - 1000000) * (am - 1000000)
                               + (bm - 1000000) * (bm - 1000000)
                             AS DOUBLE)) + 0.5) AS HUGEINT)
                             AS DOUBLE) / 1000000.0
                   END AS kge
            FROM m
        """,
        # q_acc: anomalies as integer differences of the three
        # quantized columns, two sqrt seams multiplied then quantized
        # once, sign-aware half_up
        "q_acc": f"""
            WITH src AS (
                SELECT o.o_orderpriority AS lead,
                       l.l_quantity AS f,
                       o.o_totalprice / 1000.0 AS ob,
                       (l.l_partkey % 30) + 10.0 AS cl
                FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey),
            q AS (SELECT lead,
                         CAST(sign(f) * floor(abs(f) * 1000000 + 0.5)
                              AS HUGEINT)
                         - CAST(sign(cl) * floor(abs(cl) * 1000000
                                                 + 0.5) AS HUGEINT)
                             AS af,
                         CAST(sign(ob) * floor(abs(ob) * 1000000 + 0.5)
                              AS HUGEINT)
                         - CAST(sign(cl) * floor(abs(cl) * 1000000
                                                 + 0.5) AS HUGEINT)
                             AS ao
                  FROM src),
            g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n,
                         sum(af * ao) AS sfo, sum(af * af) AS sff,
                         sum(ao * ao) AS soo
                  FROM q GROUP BY lead),
            s AS (SELECT lead, n, sfo,
                         CAST(floor(sqrt(CAST(sff AS DOUBLE)) + 0.5)
                              AS HUGEINT)
                         * CAST(floor(sqrt(CAST(soo AS DOUBLE)) + 0.5)
                                AS HUGEINT) AS qden
                  FROM g)
            SELECT lead, n,
                   CASE WHEN qden > 0 THEN
                        {idiv_half_up('sfo * 1000000', 'qden', 1000000)}
                   END AS acc
            FROM s
        """,
        # q_cost_loss: the Richardson value curve with the common
        # denominator 100·n·(b+d)·(a+c) cleared — every term an exact
        # HUGEINT product, min(α,ō) by integer cross-compare
        "q_cost_loss": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            t AS (SELECT
                    CAST(sum(CASE WHEN p >= 0.5 AND o = 1 THEN 1
                             ELSE 0 END) AS HUGEINT) AS a,
                    CAST(sum(CASE WHEN p >= 0.5 AND o = 0 THEN 1
                             ELSE 0 END) AS HUGEINT) AS b,
                    CAST(sum(CASE WHEN p < 0.5 AND o = 1 THEN 1
                             ELSE 0 END) AS HUGEINT) AS c,
                    CAST(sum(CASE WHEN p < 0.5 AND o = 0 THEN 1
                             ELSE 0 END) AS HUGEINT) AS d
                  FROM src),
            ks AS (SELECT CAST(unnest([2,5,10,20,30,40,50,60,70,80])
                               AS HUGEINT) AS k),
            e AS (SELECT k, a, b, c, d, a + b + c + d AS n,
                         a + c AS ac, b + d AS bd
                  FROM t, ks),
            v AS (SELECT k,
                         CASE WHEN k * n < 100 * ac
                              THEN k * n * bd * ac
                              ELSE 100 * ac * bd * ac END AS mt,
                         k * b * (n - ac) * ac AS tf,
                         a * (100 - k) * bd * ac AS th,
                         100 * ac * bd * ac AS tb,
                         k * ac * ac * bd AS tao
                  FROM e)
            SELECT CAST(k AS DOUBLE) / 100.0 AS alpha,
                   CASE WHEN mt - tao > 0 THEN
                        {idiv_half_up('(mt - tf + th - tb) * 1000000',
                                      'mt - tao', 1000000)}
                   END AS value
            FROM v
        """,
        # q_grpo_advantage: the GRPO chain mirrored — micro rewards,
        # HUGEINT group partials, one sqrt of the exact integer
        # SS·n − S² quantized floor(+0.5), one half_up ratio
        "q_grpo_advantage": f"""
            WITH src AS (
                SELECT l_orderkey AS prompt,
                       CAST(l_linenumber AS BIGINT) AS rid,
                       l_extendedprice / 1000.0 AS reward
                FROM lineitem),
            q AS (SELECT prompt, rid,
                         CAST(sign(reward)
                              * floor(abs(reward) * 1000000 + 0.5)
                              AS HUGEINT) AS qr
                  FROM src),
            st AS (SELECT prompt, CAST(count(*) AS HUGEINT) AS n,
                          sum(qr) AS s, sum(qr * qr) AS ss
                   FROM q GROUP BY 1),
            sd AS (SELECT prompt, n, s,
                          CAST(floor(sqrt(CAST(ss * n - s * s
                                               AS DOUBLE)) + 0.5)
                               AS HUGEINT) AS qstdn
                   FROM st)
            SELECT q.prompt, q.rid,
                   CAST(q.qr AS DOUBLE) / 1000000.0 AS reward,
                   CASE WHEN sd.qstdn > 0 THEN
                        {idiv_half_up('(q.qr * sd.n - sd.s) * 1000000',
                                      'sd.qstdn', 1000000)}
                        ELSE 0.0 END AS advantage
            FROM q JOIN sd ON q.prompt = sd.prompt
        """,
        # q_best_of_n: row_number twin of the struct-max (reward desc,
        # id asc — the deterministic tiebreak)
        "q_best_of_n": """
            WITH src AS (
                SELECT l_orderkey AS prompt,
                       CAST(l_linenumber AS BIGINT) AS rid,
                       CAST(sign(l_extendedprice / 1000.0)
                            * floor(abs(l_extendedprice / 1000.0)
                                    * 1000000 + 0.5) AS HUGEINT) AS qr
                FROM lineitem),
            r AS (SELECT prompt, rid, qr,
                         row_number() OVER (PARTITION BY prompt
                             ORDER BY qr DESC, rid ASC) AS rn,
                         CAST(count(*) OVER (PARTITION BY prompt)
                              AS BIGINT) AS n
                  FROM src)
            SELECT prompt, rid AS best_id,
                   CAST(qr AS DOUBLE) / 1000000.0 AS best_reward,
                   n AS n_candidates
            FROM r WHERE rn = 1
        """,
        # q_dpo_pairs: best-vs-worst per prompt with both tiebreaks,
        # >= 2 responses, strictly positive micro margin
        "q_dpo_pairs": """
            WITH src AS (
                SELECT l_orderkey AS prompt,
                       CAST(l_linenumber AS BIGINT) AS rid,
                       CAST(sign(l_extendedprice / 1000.0)
                            * floor(abs(l_extendedprice / 1000.0)
                                    * 1000000 + 0.5) AS HUGEINT) AS qr
                FROM lineitem),
            r AS (SELECT prompt, rid, qr,
                         row_number() OVER (PARTITION BY prompt
                             ORDER BY qr DESC, rid ASC) AS rhi,
                         row_number() OVER (PARTITION BY prompt
                             ORDER BY qr ASC, rid ASC) AS rlo,
                         count(*) OVER (PARTITION BY prompt) AS n
                  FROM src),
            hi AS (SELECT prompt, rid AS chosen_id, qr AS qhi, n
                   FROM r WHERE rhi = 1),
            lo AS (SELECT prompt, rid AS rejected_id, qr AS qlo
                   FROM r WHERE rlo = 1)
            SELECT hi.prompt, chosen_id, rejected_id,
                   CAST(qhi AS DOUBLE) / 1000000.0 AS chosen_reward,
                   CAST(qlo AS DOUBLE) / 1000000.0 AS rejected_reward,
                   CAST(qhi - qlo AS DOUBLE) / 1000000.0 AS margin
            FROM hi JOIN lo ON hi.prompt = lo.prompt
            WHERE n >= 2 AND qhi - qlo > 0
        """,
        # q_rank_histogram: rank = 1 + strictly-below count on the RAW
        # doubles (ties below the observation), then the histogram
        "q_rank_histogram": f"""
            WITH {vens},
            r AS (SELECT k,
                         CAST(1 + sum(CASE WHEN x < y THEN 1 ELSE 0 END)
                              AS INT) AS rank
                  FROM ve GROUP BY k)
            SELECT rank, CAST(count(*) AS BIGINT) AS n_cells
            FROM r GROUP BY rank
        """,
        # q_brier_decomp: bin floor, micro quantization and the per-bin
        # HUGEINT half_up contributions mirrored term-for-term from
        # brier_decomposition — BS/REL/RES/UNC each one integer-space
        # rounding at the end
        "q_brier_decomp": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            c AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS b,
                         CAST(sign(p) * floor(abs(p) * 1000000 + 0.5)
                              AS HUGEINT) AS qp,
                         CAST(o AS HUGEINT) AS o
                  FROM src),
            g AS (SELECT b, CAST(count(*) AS HUGEINT) AS nk,
                         sum(qp) AS sp, sum(o) AS so_k,
                         sum(qp * qp) AS spp, sum(qp * o) AS spo
                  FROM c GROUP BY b),
            t AS (SELECT sum(nk) AS n, sum(so_k) AS so,
                         sum(spp) AS spp, sum(spo) AS spo
                  FROM g),
            pb AS (SELECT t.n, t.so, t.spp, t.spo,
                          {idiv_int('(g.sp - 1000000 * g.so_k)'
                                    ' * (g.sp - 1000000 * g.so_k)',
                                    'g.nk')} AS rk,
                          {idiv_int('(g.so_k * t.n - g.nk * t.so)'
                                    ' * (g.so_k * t.n - g.nk * t.so)',
                                    'g.nk')} AS sk
                   FROM g, t),
            s AS (SELECT n, so, spp, spo, sum(rk) AS relu,
                         sum(sk) AS resu
                  FROM pb GROUP BY n, so, spp, spo)
            SELECT {idiv_half_up(
                        'spp - 2000000 * spo + 1000000000000 * so',
                        'n * 1000000', 1000000)} AS brier,
                   {idiv_half_up('relu', 'n * 1000000', 1000000)}
                       AS reliability,
                   {idiv_half_up('resu * 1000000', 'n * n * n',
                                 1000000)} AS resolution,
                   {idiv_half_up('so * (n - so) * 1000000', 'n * n',
                                 1000000)} AS uncertainty
            FROM s
        """,
        # q_spread_skill: per-cell variance / squared-error as exact
        # integer micro ratios (the dim_stats discipline), lead-keyed
        # integer reduction, ratio NULL at se = 0
        "q_spread_skill": f"""
            WITH {vens},
            c AS (SELECT lead, k, CAST(count(*) AS HUGEINT) AS m,
                         sum(qx) AS s1, sum(qx * qx) AS s2,
                         min(qy) AS qy
                  FROM ve GROUP BY lead, k),
            v AS (SELECT lead,
                         {idiv_int('c.s2 * c.m - c.s1 * c.s1',
                                   'c.m * c.m * 1000000')} AS vq,
                         {idiv_int('(c.s1 - c.m * c.qy)'
                                   ' * (c.s1 - c.m * c.qy)',
                                   'c.m * c.m * 1000000')} AS eq
                  FROM c),
            g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n_cells,
                         CAST(count(*) AS HUGEINT) AS nh,
                         sum(vq) AS sv, sum(eq) AS se
                  FROM v GROUP BY lead)
            SELECT lead, n_cells,
                   {idiv_half_up('sv', 'nh', 1000000)} AS spread,
                   {idiv_half_up('se', 'nh', 1000000)} AS skill,
                   CASE WHEN se > 0
                        THEN {idiv_half_up('sv * 1000000', 'se',
                                           1000000)}
                        ELSE NULL END AS ratio
            FROM g
        """,
        # q_bradley_terry: both MM rounds unrolled in HUGEINT — the
        # per-term quotient n*1e12/(wq_i+wq_j), the prior term
        # 2*1e12/(wq_i+1e6), the update (W+1)*1e12/denom and the mean-1
        # rescale wq*k*1e6/S are all integer half-up divisions,
        # term-for-term datapipe/preference.bradley_terry
        "q_bradley_terry": f"""
            WITH src AS (
                SELECT l_partkey % 8 AS w,
                       (l_partkey * 7 + l_suppkey) % 8 AS l
                FROM lineitem),
            g AS (SELECT w, l FROM src WHERE w <> l),
            comp AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
                            CAST(count(*) AS HUGEINT) AS n,
                            CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END)
                                 AS HUGEINT) AS wa
                     FROM g GROUP BY 1, 2),
            tot AS (SELECT i, sum(wn) AS n_wins, sum(gn) AS n_games
                    FROM (SELECT a AS i, wa AS wn, n AS gn FROM comp
                          UNION ALL
                          SELECT b AS i, n - wa AS wn, n AS gn FROM comp)
                    GROUP BY i),
            e AS (SELECT a AS i, b AS j, n FROM comp
                  UNION ALL SELECT b AS i, a AS j, n FROM comp),
            kk AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM tot),
            w0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS wq FROM tot),
            d1 AS (SELECT e.i,
                          sum({idiv_int('e.n * 1000000000000',
                                        'wi.wq + wj.wq')}) AS d
                   FROM e JOIN w0 wi ON e.i = wi.i
                          JOIN w0 wj ON e.j = wj.i
                   GROUP BY e.i),
            u1 AS (SELECT t.i,
                          {idiv_int(
                              '(t.n_wins + 1) * 1000000000000',
                              'd1.d + ' + idiv_int(
                                  '2 * 1000000000000',
                                  'wi.wq + 1000000'))} AS wq
                   FROM tot t JOIN d1 ON t.i = d1.i
                          JOIN w0 wi ON t.i = wi.i),
            s1 AS (SELECT sum(wq) AS s FROM u1),
            w1 AS (SELECT u1.i,
                          greatest({idiv_int('u1.wq * kk.k * 1000000',
                                             's1.s')},
                                   CAST(1 AS HUGEINT)) AS wq
                   FROM u1, s1, kk),
            d2 AS (SELECT e.i,
                          sum({idiv_int('e.n * 1000000000000',
                                        'wi.wq + wj.wq')}) AS d
                   FROM e JOIN w1 wi ON e.i = wi.i
                          JOIN w1 wj ON e.j = wj.i
                   GROUP BY e.i),
            u2 AS (SELECT t.i,
                          {idiv_int(
                              '(t.n_wins + 1) * 1000000000000',
                              'd2.d + ' + idiv_int(
                                  '2 * 1000000000000',
                                  'wi.wq + 1000000'))} AS wq
                   FROM tot t JOIN d2 ON t.i = d2.i
                          JOIN w1 wi ON t.i = wi.i),
            s2 AS (SELECT sum(wq) AS s FROM u2),
            w2 AS (SELECT u2.i,
                          greatest({idiv_int('u2.wq * kk.k * 1000000',
                                             's2.s')},
                                   CAST(1 AS HUGEINT)) AS wq
                   FROM u2, s2, kk)
            SELECT t.i AS item, CAST(t.n_wins AS BIGINT) AS n_wins,
                   CAST(t.n_games AS BIGINT) AS n_games,
                   CAST(w2.wq AS DOUBLE) / 1000000.0 AS strength
            FROM tot t JOIN w2 ON t.i = w2.i
        """,
        # q_reliability: the q_brier_decomp bin cells finished as
        # calibration-curve points; p_mean/o_rate/gap each rounded as
        # its OWN integer ratio (HUGEINT //)
        "q_reliability": f"""
            WITH src AS (
                SELECT l_discount * 10.0 AS p,
                       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                           AS o
                FROM lineitem),
            c AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS b,
                         CAST(sign(p) * floor(abs(p) * 1000000 + 0.5)
                              AS HUGEINT) AS qp,
                         CAST(o AS HUGEINT) AS o
                  FROM src),
            g AS (SELECT b, CAST(count(*) AS HUGEINT) AS nk,
                         sum(qp) AS sp, sum(o) AS so_k
                  FROM c GROUP BY b)
            SELECT b AS bin, CAST(nk AS BIGINT) AS n,
                   {idiv_half_up('sp', 'nk', 1000000)} AS p_mean,
                   {idiv_half_up('so_k * 1000000', 'nk', 1000000)}
                       AS o_rate,
                   {idiv_half_up('sp - 1000000 * so_k', 'nk', 1000000)}
                       AS gap
            FROM g
        """,
        # q_whiten: the same literal axes/scales as the Spark gate —
        # dot is exact per construction (unit/2-term axes), one
        # round-6 of the scaled double on both engines
        "q_whiten": f"""
            WITH arr AS (SELECT vec_id,
                                CAST(embedding AS DOUBLE[]) AS l
                         FROM embeddings)
            SELECT vec_id, 0 AS dim,
                   round(l[4] * {_WHITEN_SCALES[0]!r}, 6) AS wval
            FROM arr
            UNION ALL
            SELECT vec_id, 1 AS dim,
                   round(l[8] * {_WHITEN_SCALES[1]!r}, 6) AS wval
            FROM arr
            UNION ALL
            SELECT vec_id, 2 AS dim,
                   round((0.6 * l[2] + 0.8 * l[3])
                         * {_WHITEN_SCALES[2]!r}, 6) AS wval
            FROM arr
        """,
        # q_kneser_ney: the KN probability tree mirrored operand-for-
        # operand (greatest(c-D,0) + (D*n1_fw)*p_cont over ctx; Lidstone
        # p_cont floor); continuation counts are exact integer
        # aggregates on both engines
        "q_kneser_ney": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS l
                FROM documents),
            bg_all AS (
                SELECT id,
                       unnest([l[i] || ' ' || l[i+1]
                               for i in range(1, len(l))]) AS bg
                FROM toks),
            lm_bg AS (SELECT bg, count(*) AS bg_count
                      FROM bg_all GROUP BY bg),
            ctx AS (SELECT split_part(bg, ' ', 1) AS w1,
                           sum(bg_count) AS ctx_count,
                           count(*) AS n1_fw
                    FROM lm_bg GROUP BY 1),
            cont AS (SELECT split_part(bg, ' ', 2) AS w2,
                            count(*) AS n1_bw
                     FROM lm_bg GROUP BY 1),
            tot AS (SELECT CAST(sum(n1_bw) AS BIGINT) AS n_pairs,
                           CAST(count(*) AS BIGINT) AS vocab
                    FROM cont),
            scored AS (
                SELECT d.id,
                       ln(CASE WHEN coalesce(c.ctx_count, 0) > 0
                          THEN (greatest(coalesce(b.bg_count, 0) - 0.75,
                                         0.0)
                                + (0.75 * c.n1_fw)
                                  * ((coalesce(n.n1_bw, 0) + 0.5)
                                     / (t.n_pairs
                                        + 0.5 * (t.vocab + 1))))
                               / CAST(c.ctx_count AS DOUBLE)
                          ELSE (coalesce(n.n1_bw, 0) + 0.5)
                               / (t.n_pairs + 0.5 * (t.vocab + 1))
                          END) AS logp
                FROM bg_all d
                LEFT JOIN lm_bg b ON d.bg = b.bg
                LEFT JOIN ctx c ON split_part(d.bg, ' ', 1) = c.w1
                LEFT JOIN cont n ON split_part(d.bg, ' ', 2) = n.w2,
                tot t
                WHERE d.id < 300),
            q AS (SELECT id, CAST(round(logp * 1000000) AS BIGINT)
                             AS lp
                  FROM scored),
            agg0 AS (SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
                            CAST(sum(lp) AS HUGEINT) AS s
                     FROM q GROUP BY id),
            agg AS (SELECT id, n_bigrams,
                           CAST((CASE WHEN (-s) < 0
                                 THEN -((2 * (-(-s))
                                         + CAST(n_bigrams AS HUGEINT))
                                        // (2 * CAST(n_bigrams
                                                     AS HUGEINT)))
                                 ELSE (2 * (-s)
                                       + CAST(n_bigrams AS HUGEINT))
                                      // (2 * CAST(n_bigrams
                                                   AS HUGEINT)) END)
                                AS DOUBLE) / 1000000.0 AS cross_entropy,
                           round(exp(CAST(-s AS DOUBLE) / n_bigrams
                                     / 1000000.0), 4) AS perplexity
                    FROM agg0)
            SELECT doc.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
                   a.cross_entropy, a.perplexity
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id < 300) doc
            LEFT JOIN agg a ON doc.doc_id = a.id
        """,
        # q_fuzzy_pairs: distinct-name shrink, last-token blocking,
        # length band, levenshtein <= 3 — DuckDB's levenshtein is the
        # identical classic DP
        "q_fuzzy_pairs": f"""
            WITH g AS (
                SELECT {fuzzy_name} AS name,
                       min(p_partkey) AS rep_id,
                       CAST(count(*) AS BIGINT) AS n_rows
                FROM part GROUP BY 1),
            b AS (
                SELECT name, rep_id, n_rows,
                       list_extract(string_split(name, ' '),
                                    len(string_split(name, ' '))) AS bk,
                       length(name) AS l
                FROM g)
            SELECT a.name AS name_a, c.name AS name_b,
                   CAST(a.rep_id AS BIGINT) AS id_a,
                   CAST(c.rep_id AS BIGINT) AS id_b,
                   a.n_rows AS n_a, c.n_rows AS n_b,
                   CAST(levenshtein(a.name, c.name) AS INT) AS dist
            FROM b a JOIN b c
              ON a.bk = c.bk AND a.name < c.name AND abs(a.l - c.l) <= 3
            WHERE levenshtein(a.name, c.name) <= 3
        """,
        # q_fuzzy_match: candidate relation + deterministic window argmin
        # (dist, then match_name, then match_id)
        "q_fuzzy_match": f"""
            WITH bg AS (
                SELECT {fuzzy_name} AS name FROM part
                WHERE p_partkey % 2 = 0 GROUP BY 1),
            rg AS (
                SELECT {fuzzy_name} AS name, min(p_partkey) AS rep_id
                FROM part WHERE p_partkey % 2 = 1 GROUP BY 1),
            bb AS (SELECT name,
                          list_extract(string_split(name, ' '),
                                       len(string_split(name, ' '))) AS bk,
                          length(name) AS l
                   FROM bg),
            rb AS (SELECT name, rep_id,
                          list_extract(string_split(name, ' '),
                                       len(string_split(name, ' '))) AS bk,
                          length(name) AS l
                   FROM rg),
            cand AS (
                SELECT b.name, r.name AS match_name, r.rep_id AS match_id,
                       levenshtein(b.name, r.name) AS dist
                FROM bb b JOIN rb r
                  ON b.bk = r.bk AND abs(b.l - r.l) <= 3
                WHERE levenshtein(b.name, r.name) <= 3),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY name
                    ORDER BY dist, match_name, match_id) AS rn
                FROM cand)
            SELECT name, match_name, CAST(match_id AS BIGINT) AS match_id,
                   CAST(dist AS INT) AS dist
            FROM ranked WHERE rn = 1
        """,
        # q_cms_tokens: sketch cells AND probe re-derive the identical
        # 52-bit md5 positions; integer-only, so collisions hash-match too
        "q_cms_tokens": f"""
            WITH {_CMS_CELLS_CTES},
            exact AS (
                SELECT token, CAST(count(*) AS BIGINT) AS exact
                FROM tk GROUP BY token HAVING count(*) >= 40),
            probe AS (
                SELECT e.token, t.r AS row, {cms_col.format(r='t.r')} AS col
                FROM exact e, range(3) t(r)),
            est AS (
                SELECT token,
                       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
                FROM probe p LEFT JOIN cells c
                  ON p.row = c.row AND p.col = c.col
                GROUP BY token)
            SELECT e.token, est.est, e.exact
            FROM est JOIN exact e USING (token)
        """,
        # q_ewma: the recursion runs as the SAME sequential fold in both
        # engines (list_reduce seeds with element 1 — probed), so the
        # doubles are bit-identical and compared RAW — no rounding
        # (rounding bit-identical values broke parity at a decimal
        # half-point; see the q_ewma docstring)
        "q_ewma": """
            WITH ev AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE user_id < 25),
            arr AS (
                SELECT event_id, user_id, ts, value,
                       list(value) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS a
                FROM ev)
            SELECT event_id, user_id, ts, value,
                   list_reduce(a, (acc, x) -> 0.25 * x + 0.75 * acc)
                       AS ewma
            FROM arr
        """,
        # q_funnel: the greedy-earliest min-join chain as CTEs; stage i
        # strictly after stage i-1
        "q_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS step_1_ts
                FROM events WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS step_2_ts
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
                GROUP BY e.user_id),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS step_3_ts
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
                GROUP BY e.user_id)
            SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
                   CAST(CASE WHEN s3.step_3_ts IS NOT NULL THEN 3
                             WHEN s2.step_2_ts IS NOT NULL THEN 2
                             ELSE 1 END AS INT) AS depth
            FROM s1
            LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
        """,
        # q_retention: ISO-week cohorts; whole-week offsets via day
        # difference div 7; fraction vs the cohort's offset-0 size
        "q_retention": """
            WITH ev AS (
                SELECT user_id AS k, date_trunc('week', ts) AS p
                FROM events),
            first AS (
                SELECT k, min(p) AS cohort FROM ev GROUP BY k),
            active AS (
                SELECT f.cohort,
                       CAST(date_diff('day', f.cohort, ev.p) / 7
                            AS BIGINT) AS "offset",
                       CAST(count(DISTINCT ev.k) AS BIGINT) AS n_active
                FROM ev JOIN first f ON ev.k = f.k
                GROUP BY f.cohort, 2),
            base AS (
                SELECT cohort, n_active AS n0 FROM active
                WHERE "offset" = 0)
            SELECT a.cohort, a."offset" AS "offset", a.n_active,
                   round(a.n_active / CAST(b.n0 AS DOUBLE), 6)
                       AS retention
            FROM active a JOIN base b ON a.cohort = b.cohort
        """,
        # q_ewma_stream: the UNBOUNDED-history recursion (no ROWS frame —
        # every prefix), raw doubles; the stream's per-key double of
        # state replaces the batch side's O(history) arrays
        "q_ewma_stream": """
            WITH ev AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE user_id < 25),
            arr AS (
                SELECT event_id, user_id, ts, value,
                       list(value) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS a
                FROM ev)
            SELECT event_id, user_id, ts, value,
                   list_reduce(a, (acc, x) -> 0.25 * x + 0.75 * acc)
                       AS ewma
            FROM arr
        """,
        # q_interval_join: the naive range join IS the oracle — the
        # bucketed plan must reproduce it exactly
        "q_interval_join": """
            WITH iv AS (
                SELECT o_orderkey AS iv_key, o_orderdate AS start,
                       o_orderdate + INTERVAL 1 DAY * (1 + o_orderkey % 5)
                           AS "end"
                FROM orders WHERE o_orderkey < 100),
            pt AS (
                SELECT l_orderkey, l_linenumber, l_shipdate AS ts
                FROM lineitem WHERE l_orderkey < 2000)
            SELECT p.l_orderkey, p.l_linenumber, p.ts,
                   CAST(i.iv_key AS BIGINT) AS iv_key,
                   i.start, i."end" AS "end"
            FROM pt p JOIN iv i
              ON p.ts >= i.start AND p.ts < i."end"
        """,
        # q_ohlc: open/close restated via asc/desc row_number windows
        # over the identical (ts, event_id) ordering
        "q_ohlc": """
            WITH ev AS (
                SELECT user_id, event_id, ts, value,
                       date_trunc('hour', ts) AS bar
                FROM events WHERE user_id < 50),
            wv AS (
                SELECT user_id, bar, value,
                       row_number() OVER (
                           PARTITION BY user_id, bar
                           ORDER BY ts, event_id) AS rn_a,
                       row_number() OVER (
                           PARTITION BY user_id, bar
                           ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM ev)
            SELECT user_id, bar,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high, min(value) AS low,
                   max(CASE WHEN rn_d = 1 THEN value END) AS close,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM wv GROUP BY user_id, bar
        """,
        # q_twap: lead-gap weights in µs; terminal observation weights
        # nothing (sum skips its NULL gap in both engines)
        "q_twap": """
            WITH ev AS (
                SELECT user_id, event_id, ts, value
                FROM events WHERE user_id < 50),
            g AS (
                SELECT user_id, value,
                       CAST(epoch_us(lead(ts) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id))
                            - epoch_us(ts) AS DOUBLE) AS w
                FROM ev)
            SELECT user_id,
                   round(sum(value * w) / sum(w), 6) AS twap,
                   CAST(sum(w) AS BIGINT) AS span_us,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM g GROUP BY user_id
        """,
        # q_cusum_stream: alarm rows = upward crossings of the
        # full-history clamped fold; S restated per prefix (unbounded
        # list + max(0,·)-seeded reduce), the edge via lag(S)
        "q_cusum_stream": """
            WITH ev AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE user_id < 25),
            arr AS (
                SELECT event_id, user_id, ts, value,
                       list(value - 55.0 - 5.0) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS a
                FROM ev),
            s AS (
                SELECT event_id, user_id, ts, value,
                       list_reduce(
                           list_prepend(greatest(a[1], 0.0), a[2:]),
                           (acc, x) -> greatest(acc + x, 0.0)) AS cusum
                FROM arr),
            edged AS (
                SELECT user_id, ts, value, cusum,
                       lag(cusum) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_s
                FROM s)
            SELECT user_id, ts, value, cusum
            FROM edged
            WHERE cusum >= 200.0
              AND coalesce(prev_s < 200.0, TRUE)
        """,
        # q_cusum: same raw bit-identical fold as q_ewma; element 1 is
        # pre-mapped through greatest(·, 0) so the first-element seed
        # runs the identical max(0, ...) recursion
        "q_cusum": """
            WITH ev AS (
                SELECT event_id, user_id, ts, value
                FROM events WHERE user_id < 25),
            arr AS (
                SELECT event_id, user_id, ts, value,
                       list(value - 55.0 - 5.0) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS a
                FROM ev),
            s AS (
                SELECT event_id, user_id, ts, value,
                       list_reduce(
                           list_prepend(greatest(a[1], 0.0), a[2:]),
                           (acc, x) -> greatest(acc + x, 0.0)) AS cusum
                FROM arr)
            SELECT event_id, user_id, ts, value, cusum,
                   cusum >= 200.0 AS cusum_alarm
            FROM s
        """,
        # q_label_prop: both Zhu-Ghahramani iterations unrolled in EXACT
        # integer micro-units — spread = (2*sum + deg) // (2*deg)
        # (half-up integer division; min(dg) is constant per group),
        # seeds clamped back each round.  No floats until the final /1e6.
        "q_label_prop": """
            WITH pairs AS (
                SELECT DISTINCT o.o_custkey AS c,
                       l.l_suppkey + 1000000 AS s
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                WHERE o.o_custkey < 150),
            edges AS (SELECT c AS src, s AS dst FROM pairs
                      UNION ALL SELECT s, c FROM pairs),
            deg AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS dg
                    FROM edges GROUP BY dst),
            seeds AS (
                SELECT c AS node,
                       CASE WHEN c < 10 THEN 'lo' ELSE 'hi' END AS label,
                       CAST(1000000 AS BIGINT) AS mu
                FROM (SELECT DISTINCT c FROM pairs WHERE c < 20)),
            sp1 AS (
                SELECT e.dst AS node, l.label,
                       (2 * sum(l.mu) + min(d.dg)) // (2 * min(d.dg))
                           AS mu
                FROM seeds l JOIN edges e ON l.node = e.src
                JOIN deg d ON e.dst = d.node
                GROUP BY e.dst, l.label),
            l1 AS (
                SELECT * FROM sp1
                WHERE node NOT IN (SELECT node FROM seeds)
                UNION ALL SELECT * FROM seeds),
            sp2 AS (
                SELECT e.dst AS node, l.label,
                       (2 * sum(l.mu) + min(d.dg)) // (2 * min(d.dg))
                           AS mu
                FROM l1 l JOIN edges e ON l.node = e.src
                JOIN deg d ON e.dst = d.node
                GROUP BY e.dst, l.label),
            l2 AS (
                SELECT * FROM sp2
                WHERE node NOT IN (SELECT node FROM seeds)
                UNION ALL SELECT * FROM seeds)
            SELECT node, label, mu / 1000000.0 AS mass
            FROM l2 WHERE mu > 0
        """,
        # q_hits: both HITS iterations unrolled — four half-steps, each
        # an edge join + L2 normalize + round-6 (h0 = 1 makes the first
        # authority pass a plain in-degree count)
        "q_hits": """
            WITH pairs AS (
                SELECT DISTINCT o.o_custkey AS c,
                       l.l_suppkey + 1000000 AS s
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                WHERE o.o_custkey < 150),
            e AS (SELECT c AS src, s AS dst FROM pairs),
            nodes AS (SELECT src AS node FROM e
                      UNION SELECT dst FROM e),
            a1r AS (SELECT dst AS node, CAST(count(*) AS DOUBLE) AS s
                    FROM e GROUP BY dst),
            a1n AS (SELECT sqrt(sum(s * s)) AS nrm FROM a1r),
            a1 AS (SELECT node, round(s / nrm, 6) AS a FROM a1r, a1n),
            h1r AS (SELECT e.src AS node, sum(a1.a) AS s
                    FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
            h1n AS (SELECT sqrt(sum(s * s)) AS nrm FROM h1r),
            h1 AS (SELECT node, round(s / nrm, 6) AS h FROM h1r, h1n),
            a2r AS (SELECT e.dst AS node, sum(h1.h) AS s
                    FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
            a2n AS (SELECT sqrt(sum(s * s)) AS nrm FROM a2r),
            a2 AS (SELECT node, round(s / nrm, 6) AS a FROM a2r, a2n),
            h2r AS (SELECT e.src AS node, sum(a2.a) AS s
                    FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
            h2n AS (SELECT sqrt(sum(s * s)) AS nrm FROM h2r),
            h2 AS (SELECT node, round(s / nrm, 6) AS h FROM h2r, h2n)
            SELECT n.node,
                   coalesce(h2.h, 0.0) AS hub,
                   coalesce(a2.a, 0.0) AS authority
            FROM nodes n
            LEFT JOIN h2 ON n.node = h2.node
            LEFT JOIN a2 ON n.node = a2.node
        """,
        # q_cms_stream: the streamed sketch must equal the batch cells
        # relation bit-for-bit — mergeable-sketch stream/batch parity,
        # same shared definition as q_cms_tokens' build side
        "q_cms_stream": f"""
            WITH {_CMS_CELLS_CTES}
            SELECT row, col, cnt FROM cells
        """,
        "q_threshold_summary": f"""
            SELECT l_partkey AS partkey,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice * 0.8
                             THEN 1 ELSE 0 END), 6) AS p_above_2y,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice
                             THEN 1 ELSE 0 END), 6) AS p_above_5y,
                   round(avg(CASE WHEN l_extendedprice >= p_retailprice * 1.2
                             THEN 1 ELSE 0 END), 6) AS p_above_20y,
                   min(l_extendedprice) AS min_dis,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS q1_dis,
                   round(quantile_cont(l_extendedprice, 0.50), 6) AS median_dis,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS q3_dis,
                   max(l_extendedprice) AS max_dis
            FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
            GROUP BY l_partkey
        """,
        "q_threshold_summary_approx": _APPROX_BOUNDS_ORACLE_SQL,
        # q_stream_summary: the streamed full summary verifies through the
        # IDENTICAL bounds contract (one definition, two gates)
        "q_stream_summary": _APPROX_BOUNDS_ORACLE_SQL,
        "q_tendency": """
            WITH detailed AS (
                SELECT c_custkey AS custkey,
                       o_totalprice AS median_dis,
                       c_acctbal AS control_dis,
                       o_totalprice * 1.05 AS max_dis,
                       o_totalprice * 0.95 AS min_dis
                FROM orders JOIN customer ON o_custkey = c_custkey),
            agg AS (
                SELECT custkey,
                       max(median_dis) AS max_median_dis,
                       min(median_dis) AS min_median_dis,
                       min(control_dis) AS control_dis,
                       max(max_dis) AS max_max_dis,
                       min(min_dis) AS min_min_dis
                FROM detailed GROUP BY custkey)
            SELECT *,
                   CASE WHEN max_median_dis > control_dis * 1.10 THEN 'U'
                        WHEN min_median_dis <= control_dis * 0.90
                             AND max_median_dis <= control_dis * 1.10 THEN 'D'
                        ELSE 'C' END AS tendency
            FROM agg
        """,
        "q_intensity": """
            WITH per_type AS (
                SELECT user_id, event_type,
                       round(avg(CASE WHEN value >= 150 THEN 1 ELSE 0 END), 6) AS p_above_20y,
                       round(avg(CASE WHEN value >= 100 THEN 1 ELSE 0 END), 6) AS p_above_5y,
                       round(avg(CASE WHEN value >= 50 THEN 1 ELSE 0 END), 6) AS p_above_2y
                FROM events GROUP BY user_id, event_type),
            agg AS (
                SELECT user_id,
                       max(p_above_20y) AS max_p_above_20y,
                       max(p_above_5y) AS max_p_above_5y,
                       max(p_above_2y) AS max_p_above_2y
                FROM per_type GROUP BY user_id)
            SELECT *,
                   CASE WHEN max_p_above_20y >= 0.30 THEN 'P'
                        WHEN max_p_above_5y >= 0.30 THEN 'R'
                        WHEN max_p_above_2y >= 0.30 THEN 'Y'
                        ELSE 'G' END AS intensity
            FROM agg
        """,
        "q_peak_timing": f"""
            WITH base AS (
                SELECT l_orderkey AS orderkey,
                       l_linenumber AS step,
                       {p2} AS p_above_2y,
                       greatest(0.0, {p2} - 0.25) AS p_above_5y,
                       greatest(0.0, {p2} - 0.5) AS p_above_20y,
                       l_extendedprice AS median_dis,
                       CAST(l_shipdate AS DATE) AS valid_for
                FROM lineitem),
            cond AS (
                SELECT *,
                       CASE WHEN p_above_20y >= 0.3 THEN 1
                            WHEN p_above_5y >= 0.3 THEN 2
                            WHEN p_above_2y >= 0.3 THEN 3
                            ELSE 4 END AS condition
                FROM base),
            win AS (
                SELECT *,
                       row_number() OVER (PARTITION BY orderkey
                           ORDER BY condition ASC, median_dis DESC, step ASC) AS rn,
                       max(CASE WHEN step BETWEEN 1 AND 3 THEN p_above_2y END)
                           OVER (PARTITION BY orderkey) AS max_2y_start
                FROM cond)
            SELECT orderkey,
                   step AS peak_step,
                   valid_for AS peak_day,
                   CASE WHEN step BETWEEN 1 AND 2 THEN 'BB'
                        WHEN step > 3 AND max_2y_start < 0.30 THEN 'GC'
                        ELSE 'GB' END AS peak_timing
            FROM win WHERE rn = 1
        """,
        "q_batch_lookup": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       CAST(round(0.025 + (p_partkey % 200) * 0.05, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS DOUBLE) AS longitude,
                       p_retailprice AS val
                FROM part),
            points AS (
                SELECT n_nationkey * 0.25 + 0.01 AS query_latitude,
                       (n_nationkey % 3) * 0.15 + 0.02 AS query_longitude,
                       n_nationkey AS point_id
                FROM nation)
            SELECT point_id, query_latitude, query_longitude,
                   partkey, latitude, longitude, val
            FROM cells c JOIN points p
              ON CAST(floor(round(c.latitude / 0.05, 9)) AS BIGINT)
                 = CAST(floor(round(p.query_latitude / 0.05, 9)) AS BIGINT)
             AND CAST(floor(round(c.longitude / 0.05, 9)) AS BIGINT)
                 = CAST(floor(round(p.query_longitude / 0.05, 9)) AS BIGINT)
        """,
        "q_morton_key": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       CAST(round(0.025 + (p_partkey % 200) * 0.05, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS DOUBLE) AS longitude
                FROM part),
            idx AS (
                SELECT partkey, latitude, longitude,
                       CAST(floor(round(latitude / 0.05, 9)) AS BIGINT) + 1048576 AS bx,
                       CAST(floor(round(longitude / 0.05, 9)) AS BIGINT) + 1048576 AS by
                FROM cells),
            -- part1by1 spread (5 shift/mask rounds), lat lane then lon lane
            s0 AS (SELECT partkey, latitude, longitude,
                          bx & 4294967295 AS x, by & 4294967295 AS y FROM idx),
            s1 AS (SELECT partkey, latitude, longitude,
                          (x | (x << 16)) & 281470681808895 AS x,
                          (y | (y << 16)) & 281470681808895 AS y FROM s0),
            s2 AS (SELECT partkey, latitude, longitude,
                          (x | (x << 8)) & 71777214294589695 AS x,
                          (y | (y << 8)) & 71777214294589695 AS y FROM s1),
            s3 AS (SELECT partkey, latitude, longitude,
                          (x | (x << 4)) & 1085102592571150095 AS x,
                          (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
            s4 AS (SELECT partkey, latitude, longitude,
                          (x | (x << 2)) & 3689348814741910323 AS x,
                          (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
            s5 AS (SELECT partkey, latitude, longitude,
                          (x | (x << 1)) & 6148914691236517205 AS x,
                          (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
            SELECT partkey, latitude, longitude, x | (y << 1) AS z_key
            FROM s5
        """,
        "q_wkt_geometry": """
            WITH cells AS (
                -- CAST to DOUBLE: DuckDB decimal-literal arithmetic would
                -- otherwise yield DECIMAL(…,3) whose VARCHAR form keeps
                -- trailing zeros ('0.050'), unlike double→string ('0.05')
                SELECT p_partkey AS partkey,
                       CAST(round(0.025 + (p_partkey % 200) * 0.05, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS DOUBLE) AS longitude
                FROM part),
            bounds AS (
                SELECT *,
                       CAST(round(latitude - 0.025, 3) AS DOUBLE) AS lat_lo,
                       CAST(round(latitude + 0.025, 3) AS DOUBLE) AS lat_hi,
                       CAST(round(longitude - 0.025, 3) AS DOUBLE) AS lon_lo,
                       CAST(round(longitude + 0.025, 3) AS DOUBLE) AS lon_hi
                FROM cells)
            SELECT partkey, latitude, longitude,
                   'POLYGON ((' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) || ',' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_hi AS VARCHAR) || ',' ||
                   CAST(lon_hi AS VARCHAR) || ' ' || CAST(lat_hi AS VARCHAR) || ',' ||
                   CAST(lon_hi AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) || ',' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) ||
                   '))' AS wkt
            FROM bounds
        """,
        "q_point_lookup": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                       round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS longitude,
                       p_retailprice AS val
                FROM part)
            SELECT * FROM cells
            WHERE latitude BETWEEN 5.0 AND 5.05
              AND longitude BETWEEN 0.3 AND 0.35
        """,
        "q_neighborhood": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                       round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS longitude,
                       p_retailprice AS val
                FROM part)
            SELECT *,
                   (latitude BETWEEN 5.0 AND 5.05
                    AND longitude BETWEEN 0.3 AND 0.35) AS is_primary
            FROM cells
            WHERE latitude BETWEEN 4.95 AND 5.1
              AND longitude BETWEEN 0.25 AND 0.4
        """,
        "q_threshold_combine": """
            WITH r2 AS (
                SELECT CAST(round(0.025 + (p_partkey % 200) * 0.05 + 1e-7, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05 - 1e-7, 3) AS DOUBLE) AS longitude,
                       p_retailprice * 0.8 AS threshold_2y
                FROM part),
            r5 AS (
                SELECT CAST(round(0.025 + (p_partkey % 200) * 0.05 + 1e-7, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05 - 1e-7, 3) AS DOUBLE) AS longitude,
                       p_retailprice * 1.0 AS threshold_5y
                FROM part),
            r20 AS (
                SELECT CAST(round(0.025 + (p_partkey % 200) * 0.05 + 1e-7, 3) AS DOUBLE) AS latitude,
                       CAST(round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05 - 1e-7, 3) AS DOUBLE) AS longitude,
                       p_retailprice * 1.2 AS threshold_20y
                FROM part),
            combined AS (
                SELECT latitude, longitude,
                       threshold_2y, threshold_5y, threshold_20y
                FROM r2
                JOIN r5 USING (latitude, longitude)
                JOIN r20 USING (latitude, longitude)),
            bounds AS (
                SELECT *,
                       CAST(round(latitude - 0.025, 3) AS DOUBLE) AS lat_lo,
                       CAST(round(latitude + 0.025, 3) AS DOUBLE) AS lat_hi,
                       CAST(round(longitude - 0.025, 3) AS DOUBLE) AS lon_lo,
                       CAST(round(longitude + 0.025, 3) AS DOUBLE) AS lon_hi
                FROM combined)
            SELECT latitude, longitude,
                   threshold_2y, threshold_5y, threshold_20y,
                   'POLYGON ((' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) || ',' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_hi AS VARCHAR) || ',' ||
                   CAST(lon_hi AS VARCHAR) || ' ' || CAST(lat_hi AS VARCHAR) || ',' ||
                   CAST(lon_hi AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) || ',' ||
                   CAST(lon_lo AS VARCHAR) || ' ' || CAST(lat_lo AS VARCHAR) ||
                   '))' AS wkt
            FROM bounds
        """,
        "q_restrict_area": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                       round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT) % 200) * 0.05, 3) AS longitude,
                       p_retailprice AS val
                FROM part)
            SELECT * FROM cells
            WHERE latitude BETWEEN 1.0 - 0.0125 AND 2.0 + 0.0125
              AND longitude BETWEEN 0.0 - 0.0125 AND 0.5 + 0.0125
        """,
        "q_summary_forecast": f"""
            WITH base AS (
                SELECT l_orderkey AS orderkey,
                       l_linenumber AS step,
                       {p2} AS p_above_2y,
                       greatest(0.0, {p2} - 0.25) AS p_above_5y,
                       greatest(0.0, {p2} - 0.5) AS p_above_20y,
                       l_extendedprice AS median_dis,
                       l_extendedprice * 1.05 AS max_dis,
                       l_extendedprice * 0.95 AS min_dis,
                       CAST(l_shipdate AS DATE) AS valid_for
                FROM lineitem),
            ctrl AS (
                SELECT orderkey, median_dis AS control_dis
                FROM base WHERE step = 1),
            tend AS (
                SELECT orderkey,
                       max(median_dis) AS max_median_dis,
                       min(median_dis) AS min_median_dis,
                       min(control_dis) AS control_dis,
                       max(max_dis) AS max_max_dis,
                       min(min_dis) AS min_min_dis
                FROM base JOIN ctrl USING (orderkey)
                GROUP BY orderkey),
            tendl AS (
                SELECT *,
                       CASE WHEN max_median_dis > control_dis * 1.10 THEN 'U'
                            WHEN min_median_dis <= control_dis * 0.90
                                 AND max_median_dis <= control_dis * 1.10 THEN 'D'
                            ELSE 'C' END AS tendency
                FROM tend),
            inten AS (
                SELECT orderkey,
                       max(p_above_20y) AS max_p_above_20y,
                       max(p_above_5y) AS max_p_above_5y,
                       max(p_above_2y) AS max_p_above_2y
                FROM base GROUP BY orderkey),
            intenl AS (
                SELECT *,
                       CASE WHEN max_p_above_20y >= 0.30 THEN 'P'
                            WHEN max_p_above_5y >= 0.30 THEN 'R'
                            WHEN max_p_above_2y >= 0.30 THEN 'Y'
                            ELSE 'G' END AS intensity
                FROM inten),
            cond AS (
                SELECT *,
                       CASE WHEN p_above_20y >= 0.3 THEN 1
                            WHEN p_above_5y >= 0.3 THEN 2
                            WHEN p_above_2y >= 0.3 THEN 3
                            ELSE 4 END AS condition
                FROM base),
            win AS (
                SELECT *,
                       row_number() OVER (PARTITION BY orderkey
                           ORDER BY condition ASC, median_dis DESC, step ASC) AS rn,
                       max(CASE WHEN step BETWEEN 1 AND 3 THEN p_above_2y END)
                           OVER (PARTITION BY orderkey) AS max_2y_start
                FROM cond),
            peak AS (
                SELECT orderkey,
                       step AS peak_step,
                       valid_for AS peak_day,
                       CASE WHEN step BETWEEN 1 AND 2 THEN 'BB'
                            WHEN step > 3 AND max_2y_start < 0.30 THEN 'GC'
                            ELSE 'GB' END AS peak_timing
                FROM win WHERE rn = 1)
            SELECT orderkey, peak_step, peak_day, peak_timing,
                   max_median_dis, min_median_dis, control_dis,
                   max_max_dis, min_min_dis, tendency,
                   max_p_above_20y, max_p_above_5y, max_p_above_2y, intensity
            FROM peak
            JOIN tendl USING (orderkey)
            JOIN intenl USING (orderkey)
            WHERE intensity != 'G'
        """,
        "q_round_join": """
            SELECT bal_key, CAST(count(*) AS BIGINT) AS n_pairs
            FROM (SELECT round(c_acctbal, 0) AS bal_key FROM customer) c
            JOIN (SELECT round(s_acctbal, 0) AS bal_key FROM supplier) s
            USING (bal_key)
            GROUP BY bal_key
        """,
        "q_upstream_mask": """
            WITH forecast AS (
                SELECT round(0.025 + (user_id % 50) * 0.05, 3) AS latitude,
                       round(0.025 + (user_id % 20) * 0.05, 3) AS longitude,
                       value
                FROM events),
            upstream AS (
                SELECT round(0.025 + (s_suppkey % 50) * 0.05, 3) AS latitude,
                       round(0.025 + (s_suppkey % 20) * 0.05, 3) AS longitude,
                       s_acctbal * 1e6 AS uparea
                FROM supplier)
            SELECT f.latitude, f.longitude,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(f.value), 2) AS sum_value
            FROM forecast f
            JOIN upstream u
              ON floor(round(f.latitude / 0.05, 9)) = floor(round(u.latitude / 0.05, 9))
             AND floor(round(f.longitude / 0.05, 9)) = floor(round(u.longitude / 0.05, 9))
            WHERE u.uparea IS NOT NULL AND u.uparea >= 2.5e8
            GROUP BY f.latitude, f.longitude
        """,
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_region_revenue": """
            SELECT r_name AS region_name, c_mktsegment AS mktsegment,
                   round(sum(o_totalprice), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, c_mktsegment
        """,
        "q_top_customer_per_nation": """
            SELECT n_name AS nation_name, c_custkey AS custkey,
                   c_acctbal AS acctbal
            FROM (SELECT n_name, c_custkey, c_acctbal,
                         row_number() OVER (PARTITION BY n_name
                             ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
                  FROM customer JOIN nation ON c_nationkey = n_nationkey)
            WHERE rn = 1
        """,
        "q_semi_join": """
            SELECT c_custkey AS custkey, c_acctbal AS acctbal
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        """,
        "q_stream_threshold": """
            SELECT l.l_partkey AS partkey,
                   round(avg(CASE WHEN l.l_extendedprice >= p.p_retailprice * 0.8
                                  THEN 1 ELSE 0 END), 6) AS p_above_2y,
                   round(avg(CASE WHEN l.l_extendedprice >= p.p_retailprice
                                  THEN 1 ELSE 0 END), 6) AS p_above_5y,
                   round(avg(CASE WHEN l.l_extendedprice >= p.p_retailprice * 1.2
                                  THEN 1 ELSE 0 END), 6) AS p_above_20y,
                   min(l.l_extendedprice) AS min_dis,
                   max(l.l_extendedprice) AS max_dis,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY l.l_partkey
        """,
        "q_union_events": """
            SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS sum_value
            FROM (
                SELECT 'high_value' AS bucket, value FROM events WHERE value >= 400
                UNION ALL
                SELECT 'click' AS bucket, value FROM events WHERE event_type = 'click'
            )
            GROUP BY bucket
        """,
        "q_range_filter": """
            SELECT l_returnflag AS returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                 AND TIMESTAMP '1997-12-31 00:00:00'
              AND l_quantity BETWEEN 10 AND 20
            GROUP BY l_returnflag
        """,
        "q_events_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 6) AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "q_window_lag": """
            SELECT event_id, user_id, ts, value,
                   lag(value) OVER w AS prev_value,
                   lead(value) OVER w AS next_value,
                   round(value - lag(value) OVER w, 6) AS delta
            FROM events
            WHERE user_id < 20
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q_equidepth": """
            WITH b AS (
                SELECT quantile_cont(l_extendedprice,
                                     [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9]) AS bs
                FROM lineitem),
            t AS (
                SELECT l_extendedprice,
                       1 + len(list_filter(bs,
                               x -> l_extendedprice > x)) AS decile
                FROM lineitem, b)
            SELECT CAST(decile AS INT) AS decile,
                   CAST(count(*) AS BIGINT) AS n,
                   round(min(l_extendedprice), 2) AS lo,
                   round(max(l_extendedprice), 2) AS hi,
                   round(avg(l_extendedprice), 6) AS avg_price
            FROM t GROUP BY decile
        """,
        "q_histogram": """
            SELECT CAST(floor(value / 20) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1
        """,
        "q_set_ops": """
            SELECT nationkey, 'both' AS tag FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT s_nationkey AS nationkey FROM supplier)
            UNION ALL
            SELECT nationkey, 'customer_only' AS tag FROM (
                SELECT c_nationkey AS nationkey FROM customer
                EXCEPT
                SELECT s_nationkey AS nationkey FROM supplier)
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name, c_acctbal
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
        """,
        "q_rollup": """
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(grouping(event_type) AS INT) AS g_type,
                   CAST(grouping(CAST(ts AS DATE)) AS INT) AS g_day
            FROM events
            GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
        """,
        "q_pivot": """
            SELECT user_id,
                   round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS sum_click,
                   round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS sum_error,
                   round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS sum_purchase,
                   round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS sum_signup,
                   round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS sum_view
            FROM events GROUP BY user_id
        """,
        "q_rolling": """
            SELECT event_id, user_id, ts, value,
                   round(avg(value) OVER w, 6) AS rolling_avg,
                   CAST(count(*) OVER w AS BIGINT) AS rolling_n
            FROM events
            WHERE user_id < 30
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "q_resample": """
            WITH daily AS (
                SELECT user_id,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
                       round(sum(value), 2) AS day_value
                FROM events GROUP BY 1, 2),
            span AS (
                SELECT user_id, min(day_idx) AS lo, max(day_idx) AS hi
                FROM daily GROUP BY 1),
            grid AS (
                SELECT user_id, unnest(generate_series(lo, hi)) AS day_idx
                FROM span),
            j AS (
                SELECT g.user_id, g.day_idx, d.day_value,
                       d.day_idx IS NOT NULL AS is_observed
                FROM grid g LEFT JOIN daily d
                  ON g.user_id = d.user_id AND g.day_idx = d.day_idx)
            SELECT user_id, CAST(day_idx AS INT) AS day_idx,
                   last_value(day_value IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS day_value,
                   is_observed
            FROM j
        """,
        "q_asof_join": """
            WITH purchases AS (
                SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'purchase'),
            clicks AS (
                SELECT user_id, ts, max(value) AS click_value FROM events
                WHERE event_type = 'click' GROUP BY user_id, ts)
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   c.ts AS click_ts, c.click_value
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        # q_next_event_pairs: q_sessionize's flag/running-sum CTEs plus a
        # lead inside the key window, pair kept only when the NEXT row
        # does not open a new session
        "q_next_event_pairs": f"""
            WITH {_EVENT_PAIRS_CTES}
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   ts, event_type, next_event_type,
                   epoch_us(next_ts) - epoch_us(ts) AS next_gap_us
            FROM numbered WHERE next_new = 0
        """,
        # q_transitions: session-bounded Markov estimates — the SAME
        # shared pairs chain as q_next_event_pairs, aggregated to the
        # |event-type|^2 matrix with row-normalized probabilities
        "q_transitions": f"""
            WITH {_EVENT_PAIRS_CTES},
            pairs AS (SELECT event_type, next_event_type
                      FROM numbered WHERE next_new = 0),
            counts AS (
                SELECT event_type, next_event_type,
                       CAST(count(*) AS BIGINT) AS n
                FROM pairs GROUP BY event_type, next_event_type),
            totals AS (
                SELECT event_type, sum(n) AS tot
                FROM counts GROUP BY event_type)
            SELECT c.event_type, c.next_event_type, c.n,
                   round(c.n / CAST(t.tot AS DOUBLE), 6) AS p
            FROM counts c JOIN totals t ON c.event_type = t.event_type
        """,
        "q_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > CAST(3600 AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            numbered AS (
                SELECT *,
                       sum(new_s) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, session_id
        """,
        "q_curation": """
            WITH raw AS (
                SELECT doc_id, text,
                       CAST(length(text) AS DOUBLE) AS n_chars,
                       CASE WHEN trim(text) = '' THEN 0.0
                            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                       END AS n_tokens,
                       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct,
                       CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
                       len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is)\\b')) AS h_en,
                       len(regexp_extract_all(text, '(?i)\\b(der|und|die|nicht|ist)\\b')) AS h_de,
                       len(regexp_extract_all(text, '(?i)\\b(le|la|et|les|est)\\b')) AS h_fr,
                       len(regexp_extract_all(text, '(?i)\\b(el|los|que|es|una)\\b')) AS h_es,
                       CAST(len(regexp_extract_all(text,
                            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT)
                       AS n_bpe_tokens
                FROM documents),
            scored AS (
                SELECT doc_id, text, n_bpe_tokens,
                       CAST(n_tokens AS BIGINT) AS n_tokens,
                       round(least(1.0,
                             0.4 * (n_alpha / greatest(n_chars, 1.0))
                           + 0.3 * least(1.0, (CAST(h_en AS DOUBLE) / greatest(n_tokens, 1.0)) * 5)
                           + 0.2 * (CASE WHEN n_chars / greatest(n_tokens, 1.0)
                                              BETWEEN 3 AND 12
                                         THEN 1.0 ELSE 0.0 END)
                           + 0.1 * least(1.0, (n_punct / greatest(n_chars, 1.0)) * 20)), 6)
                       AS q_score,
                       CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                            WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                            ELSE 'es' END AS lang_pred
                FROM raw),
            kept AS (
                SELECT * FROM scored
                WHERE q_score >= 0.6 AND lang_pred = 'en'
                  AND n_tokens BETWEEN 5 AND 5000),
            reps AS (
                SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS dup_key,
                       min(doc_id) AS rep_id
                FROM kept GROUP BY 1)
            SELECT k.doc_id, k.n_tokens, k.n_bpe_tokens, k.q_score, k.lang_pred
            FROM kept k JOIN reps r ON k.doc_id = r.rep_id
        """,
        "q_dedup_exact": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS dup_key,
                   min(doc_id) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM documents
            GROUP BY 1
        """,
        "q_hash_sample": """
            -- 0.25 * 65536 = 16384 = 0x4000; lowercase-hex string compare
            -- of the md5 prefix == numeric compare (same predicate Spark
            -- evaluates)
            SELECT doc_id, source, n_chars
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        """,
        "q_chunk_docs": """
            -- stride = 120 - 24 = 96; n_chunks = max(1,
            -- ceil((len - overlap) / stride)) via integer arithmetic
            WITH base AS (
                SELECT doc_id, text,
                       unnest(range(0, greatest(1,
                           (length(text) - 24 + 95) // 96))) AS chunk_id
                FROM documents WHERE doc_id < 100)
            SELECT doc_id,
                   CAST(chunk_id AS BIGINT) AS chunk_id,
                   substr(text, CAST(chunk_id * 96 + 1 AS INT), 120) AS chunk_text,
                   CAST(length(substr(text, CAST(chunk_id * 96 + 1 AS INT), 120)) AS BIGINT)
                   AS chunk_chars
            FROM base
        """,
        "q_corpus_diff": """
            -- presence flags, not digest nullness (NULL-text rows are
            -- still present) — mirrors corpus_diff
            WITH o AS (
                SELECT doc_id AS id, md5(text) AS old_digest,
                       TRUE AS in_old
                FROM documents WHERE doc_id < 300),
            n AS (
                SELECT doc_id AS id,
                       md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
                                ELSE text END) AS new_digest,
                       TRUE AS in_new
                FROM documents WHERE doc_id BETWEEN 100 AND 399)
            SELECT coalesce(o.id, n.id) AS doc_id,
                   CASE WHEN in_old IS NULL THEN 'added'
                        WHEN in_new IS NULL THEN 'removed'
                        WHEN old_digest IS NOT DISTINCT FROM new_digest
                             THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   old_digest, new_digest
            FROM o FULL OUTER JOIN n ON o.id = n.id
        """,
        "q_full_outer": """
            WITH c AS (
                SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_customers
                FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
            s AS (
                SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_suppliers
                FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
            SELECT coalesce(c.nk, s.nk) AS nationkey,
                   coalesce(n_customers, 0) AS n_customers,
                   coalesce(n_suppliers, 0) AS n_suppliers
            FROM c FULL OUTER JOIN s ON c.nk = s.nk
        """,
        "q_ts_pattern_topk": f"""
            WITH ser AS (
                SELECT user_id, list(value ORDER BY ts, event_id) AS vs
                FROM events WHERE user_id < 50 GROUP BY user_id),
            wins AS (
                -- windows containing a NULL value are not scored (matches
                -- pattern_topk's interior-null exclusion, not just tails)
                SELECT user_id, CAST(i AS INT) AS pos,
                       vs[CAST(i AS INT):CAST(i + 7 AS INT)] AS w
                FROM ser, unnest(range(1, greatest(len(vs) - 8 + 2, 1)))
                     AS t(i)
                WHERE len(list_filter(vs[CAST(i AS INT):CAST(i + 7 AS INT)],
                                      x -> x IS NOT NULL)) = 8),
            mu AS (
                SELECT user_id, pos, w, list_sum(w) / 8 AS m FROM wins),
            sd AS (
                SELECT user_id, pos, w, m,
                       greatest(sqrt(list_sum(list_transform(w,
                           x -> (x - m) * (x - m))) / 8), 1e-12) AS s
                FROM mu),
            z AS (
                SELECT user_id, pos, w,
                       list_transform(w, x -> (x - m) / s) AS zw
                FROM sd),
            d AS (
                SELECT user_id, pos, w,
                       round(sqrt(list_sum(list_transform(range(1, 9), i ->
                           (zw[CAST(i AS INT)] - c.zp[CAST(i AS INT)])
                           * (zw[CAST(i AS INT)] - c.zp[CAST(i AS INT)])))), 6)
                       AS dist
                FROM z CROSS JOIN
                     (SELECT CAST([{zp}] AS DOUBLE[]) AS zp) c),
            ranked AS (
                SELECT user_id, pos, dist, w,
                       CAST(row_number() OVER (ORDER BY dist, user_id, pos)
                            AS INT) AS rank
                FROM d)
            SELECT user_id, pos, dist,
                   array_to_string(list_transform(w,
                       x -> printf('%.6f', x + 0.0)), ',') AS window,
                   rank
            FROM ranked WHERE rank <= 10
        """,
        # q_image_codec: the Spark side round-trips every value through the
        # real PNG encoder/resizer/decoder; the oracle reproduces the
        # closed-form features of the deterministic constant image
        "q_image_codec": """
            SELECT doc_id,
                   CAST(4 AS INT) AS width,
                   CAST(4 AS INT) AS height,
                   CAST(1 AS INT) AS channels,
                   CAST((doc_id * 7 + 13) % 256 AS INT) AS brightness_level
            FROM documents WHERE doc_id < 100
        """,
        # q_grib_codec: the real GRIB2 encode->decode round-trip vs the
        # closed-form grid/member/value layout (time = 2024-01-01 ns epoch,
        # step = 24 h in ns; lat descends from la1, lon ascends, i fastest)
        "q_grib_codec": """
            WITH grid AS (
                SELECT * FROM (VALUES
                    (0, 0), (0, 1), (0, 2),
                    (1, 0), (1, 1), (1, 2)) AS t(i, j))
            SELECT d.doc_id,
                   CAST(d.doc_id % 4 AS BIGINT) AS number,
                   round(0.125 - g.i * 0.05, 3) AS latitude,
                   round(0.025 + g.j * 0.05, 3) AS longitude,
                   CAST(1704067200 AS BIGINT) * 1000000000 AS time,
                   CAST(86400 AS BIGINT) * 1000000000 AS step,
                   CAST(1704153600 AS BIGINT) * 1000000000 AS valid_time,
                   CAST((d.doc_id * 7 + g.i * 3 + g.j) % 65536 AS INT)
                       AS packed_value
            FROM documents d CROSS JOIN grid g
            WHERE d.doc_id < 50
        """,
        # q_grib_spectral: the T3 mode-1 coefficient layout restated —
        # (m, n) pairs in the m-outer/n-inner ECMWF ordering, values
        # from the same closed form the encoder packed (exact through
        # both 5.50 and 5.51 per the gate docstring)
        "q_grib_spectral": """
            WITH ord AS (
                SELECT * FROM (VALUES
                    (0, 0, 0), (1, 0, 1), (2, 0, 2), (3, 0, 3),
                    (4, 1, 1), (5, 1, 2), (6, 1, 3),
                    (7, 2, 2), (8, 2, 3), (9, 3, 3)) AS t(idx, m, n))
            SELECT d.doc_id,
                   CAST(d.doc_id % 4 AS BIGINT) AS number,
                   CAST(o.m AS BIGINT) AS m, CAST(o.n AS BIGINT) AS n,
                   CAST(1704067200 AS BIGINT) * 1000000000 AS time,
                   CAST(86400 AS BIGINT) * 1000000000 AS step,
                   CAST(1704153600 AS BIGINT) * 1000000000
                       AS valid_time,
                   CAST((d.doc_id * 11 + 3 * (2 * o.idx)) % 512
                        AS DOUBLE) AS coef_real,
                   CAST((d.doc_id * 11 + 3 * (2 * o.idx + 1)) % 512
                        AS DOUBLE) AS coef_imag
            FROM documents d CROSS JOIN ord o
            WHERE d.doc_id < 40
        """,
        # q_alert_stream: the applyInPandasWithState tracker over ONE
        # availableNow batch — initial state G, one update per cell, emit
        # iff escalated — reproduced as a plain grouped CASE ladder
        "q_alert_stream": """
            WITH cells AS (
                SELECT round((l_partkey % 20) * 0.05 + 0.025, 3) AS latitude,
                       round((CAST(floor(l_partkey / 20) AS BIGINT) % 200)
                             * 0.05 + 0.025, 3) AS longitude,
                       least(1.0, l_discount * 12) AS p2
                FROM lineitem)
            SELECT latitude, longitude,
                   round(max(p2), 6) AS max_p_above_2y,
                   'G' AS prev_level,
                   CASE WHEN max(p2) >= 0.6 THEN 'R' ELSE 'Y' END AS level
            FROM cells GROUP BY latitude, longitude
            HAVING max(p2) >= 0.3
        """,
        # q_dedup_stream: the surviving KEY SET of the streaming dedup is
        # the batch DISTINCT — full stream/batch parity on keys (which row
        # survives per key is arrival-order dependent, so rows aren't
        # projected)
        "q_dedup_stream": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        # q_kmeans_contract: the oracle re-states the Lloyd's invariants
        # (all points assigned, inertia non-increasing) the Spark side
        # verifies for real; centroid values are float-iteration artifacts
        "q_kmeans_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(8 AS INT) AS k_requested,
                   TRUE AS all_assigned,
                   TRUE AS inertia_monotone
            FROM embeddings
        """,
        # q_kmeans_assign: axis-aligned unit centroids make the assignment
        # dot products just the components at indices 0/20/40, and the
        # L2-normalization divides all three by the SAME positive scalar —
        # so argmax (ties -> lower cluster id) over the raw components is
        # exactly the operator's answer
        "q_kmeans_assign": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings)
            SELECT vec_id,
                   CAST(CASE WHEN e[1] >= e[21] AND e[1] >= e[41] THEN 0
                             WHEN e[21] >= e[41] THEN 1
                             ELSE 2 END AS INT) AS cluster
            FROM v
        """,
        # q_stream_topk's oracle is the identical batch aggregation: the
        # complete-mode availableNow run must reproduce it exactly
        # (stream/batch parity for the global-aggregation category)
        "q_stream_topk": """
            SELECT term, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split_regex(lower(trim(text)),
                                                   '\\s+')) AS term
                  FROM documents)
            WHERE term <> ''
            GROUP BY term
            HAVING count(*) >= 40
        """,
        # q_ngram_diversity: row-local trigram list + distinct count,
        # 1-based inclusive list slices
        "q_ngram_diversity": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> '') AS l
                FROM documents),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(l) >= 3
                            THEN [array_to_string(l[i:i+2], ' ')
                                  for i in range(1, len(l) - 1)]
                            ELSE [] END AS grams
                FROM base)
            SELECT doc_id,
                   CAST(len(grams) AS BIGINT) AS nd_n_ngrams,
                   CAST(len(list_distinct(grams)) AS BIGINT)
                       AS nd_n_distinct,
                   CASE WHEN len(grams) > 0
                        THEN round(len(list_distinct(grams))
                                   / CAST(len(grams) AS DOUBLE), 6)
                   END AS nd_diversity
            FROM g
        """,
        # q_remove_spans: the rewritten text itself is value-hashed — md5
        # span keys and ORDER BY position reassembly are identical both
        # engines; list slices are 1-based inclusive (ts[i:i+7] = 8 tokens)
        "q_remove_spans": """
            WITH toks AS (
                SELECT doc_id AS id,
                       CASE WHEN trim(coalesce(text, '')) = ''
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\\s+')
                       END AS ts
                FROM documents WHERE doc_id < 300),
            spans AS (
                SELECT id,
                       unnest(range(1, len(ts) - 6)) AS pos,
                       unnest([md5(array_to_string(ts[i:i+7], ' '))
                               for i in range(1, len(ts) - 6)]) AS h
                FROM toks),
            dup AS (SELECT h FROM spans GROUP BY h
                    HAVING count(DISTINCT id) >= 2),
            covered AS (
                SELECT DISTINCT id, p FROM (
                    SELECT id, unnest(range(pos, pos + 8)) AS p
                    FROM spans JOIN dup USING (h))),
            tokens AS (
                SELECT id, unnest(ts) AS term,
                       unnest(range(1, len(ts) + 1)) AS p
                FROM toks),
            kept AS (
                SELECT t.id, t.p, t.term
                FROM tokens t ANTI JOIN covered c
                ON t.id = c.id AND t.p = c.p),
            rebuilt AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
                       string_agg(term, ' ' ORDER BY p) AS clean_text
                FROM kept GROUP BY id)
            SELECT t.id AS doc_id,
                   CAST(len(t.ts) AS BIGINT) AS n_tokens,
                   coalesce(r.n_tokens_kept, 0) AS n_tokens_kept,
                   coalesce(r.clean_text, '') AS clean_text
            FROM toks t LEFT JOIN rebuilt r ON t.id = r.id
        """,
        # q_remove_spans_first: same relation, but only non-first
        # occurrences (row_number over the span hash) contribute coverage
        "q_remove_spans_first": """
            WITH toks AS (
                SELECT doc_id AS id,
                       CASE WHEN trim(coalesce(text, '')) = ''
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\\s+')
                       END AS ts
                FROM documents WHERE doc_id < 300),
            spans AS (
                SELECT id,
                       unnest(range(1, len(ts) - 6)) AS pos,
                       unnest([md5(array_to_string(ts[i:i+7], ' '))
                               for i in range(1, len(ts) - 6)]) AS h
                FROM toks),
            dup AS (SELECT h FROM spans GROUP BY h
                    HAVING count(DISTINCT id) >= 2),
            occ AS (
                SELECT s.id, s.pos,
                       row_number() OVER (PARTITION BY s.h
                                          ORDER BY s.id, s.pos) AS rn
                FROM spans s JOIN dup USING (h)),
            covered AS (
                SELECT DISTINCT id, p FROM (
                    SELECT id, unnest(range(pos, pos + 8)) AS p
                    FROM occ WHERE rn > 1)),
            tokens AS (
                SELECT id, unnest(ts) AS term,
                       unnest(range(1, len(ts) + 1)) AS p
                FROM toks),
            kept AS (
                SELECT t.id, t.p, t.term
                FROM tokens t ANTI JOIN covered c
                ON t.id = c.id AND t.p = c.p),
            rebuilt AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
                       string_agg(term, ' ' ORDER BY p) AS clean_text
                FROM kept GROUP BY id)
            SELECT t.id AS doc_id,
                   CAST(len(t.ts) AS BIGINT) AS n_tokens,
                   coalesce(r.n_tokens_kept, 0) AS n_tokens_kept,
                   coalesce(r.clean_text, '') AS clean_text
            FROM toks t LEFT JOIN rebuilt r ON t.id = r.id
        """,
        # q_quality_rank: per-source percent_rank of the q_quality score
        # (same tie semantics both engines)
        "q_quality_rank": f"""
            WITH {_QSCORE_ORACLE_CTES}
            SELECT doc_id, source, q_score, pct_rank FROM ranked
        """,
        # q_quality_tiers: CCNet head/middle/tail terciles of the SAME
        # ranked chain (higher_is_better → ladder on 1 - pct_rank)
        "q_quality_tiers": f"""
            WITH {_QSCORE_ORACLE_CTES}
            SELECT doc_id, source, q_score, pct_rank,
                   CASE WHEN (1.0 - pct_rank) < 1.0 / 3 THEN 'head'
                        WHEN (1.0 - pct_rank) < 2.0 / 3 THEN 'middle'
                        ELSE 'tail' END AS tier
            FROM ranked
        """,
        # q_mixture_weights: temperature rebalancing — same expression
        # structure both sides so the pow/round doubles agree
        "q_mixture_weights": f"""
            WITH {_MIXTURE_ORACLE_CTES}
            SELECT source, n_docs, n_tokens,
                   round(token_share, 6) AS token_share,
                   round(scaled / z.z, 6) AS weight
            FROM sh, z
        """,
        # q_mixture_plan: same chain + budget arithmetic (target tokens
        # from the ROUNDED weight, capped sampling rate)
        "q_mixture_plan": f"""
            WITH {_MIXTURE_ORACLE_CTES},
            wts AS (SELECT source, n_docs, n_tokens,
                           round(scaled / z.z, 6) AS weight
                    FROM sh, z),
            tgt AS (SELECT *,
                           CAST(round(weight * 200000.0) AS BIGINT)
                               AS target_tokens
                    FROM wts)
            SELECT source, n_docs, n_tokens, weight, target_tokens,
                   CASE WHEN n_tokens > 0
                        THEN least(1.0, round(target_tokens
                             / CAST(n_tokens AS DOUBLE), 6))
                        ELSE 0.0 END AS rate
            FROM tgt
        """,
        # q_cluster_sample: per-cluster quota under the q_kmeans_assign
        # argmin + the engine-portable md5 rank
        "q_cluster_sample": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            a AS (
                SELECT vec_id,
                       CAST(CASE WHEN e[1] >= e[21] AND e[1] >= e[41] THEN 0
                                 WHEN e[21] >= e[41] THEN 1
                                 ELSE 2 END AS INT) AS cluster
                FROM v),
            r AS (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY cluster
                           ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                    vec_id ASC) AS rn
                FROM a)
            SELECT vec_id, cluster FROM r WHERE rn <= 40
        """,
        # q_hybrid_rrf: RRF over the shared BM25 oracle (lexical leg) and
        # the exact-cosine ranking for query vector 0 (vector leg)
        "q_hybrid_rrf": f"""
            WITH lex AS (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY bm25 DESC,
                                               doc_id ASC) AS INT) AS rank
                FROM ({_BM25_ORACLE_SQL})),
            v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            vscored AS (
                SELECT c.vec_id AS doc_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6)
                           AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id = 0),
            vrank AS (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY cosine DESC,
                                               doc_id ASC) AS INT) AS rank
                FROM vscored),
            vtop AS (SELECT * FROM vrank WHERE rank <= 20),
            fused AS (
                SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                       a.rank AS rank_a, b.rank AS rank_b,
                       round(coalesce(CAST(1.0 AS DOUBLE) / (60 + a.rank),
                                      0.0)
                             + coalesce(CAST(1.0 AS DOUBLE) / (60 + b.rank),
                                        0.0), 6) AS rrf_score
                FROM lex a FULL OUTER JOIN vtop b ON a.doc_id = b.doc_id)
            SELECT doc_id, rank_a, rank_b, rrf_score
            FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
        """,
        # q_ir_metrics: rank arithmetic over the exact-cosine top-10 and
        # label-match relevance — pure window + join SQL
        "q_ir_metrics": """
            WITH v AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6)
                           AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored),
            topk AS (SELECT query_id, neighbor_id, rank
                     FROM ranked WHERE rank <= 10),
            rel AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM v q JOIN v c
                ON q.label = c.label AND q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            hits AS (
                SELECT t.query_id, t.rank
                FROM topk t SEMI JOIN rel r
                ON t.query_id = r.query_id
                AND t.neighbor_id = r.neighbor_id),
            per_q AS (
                SELECT query_id,
                       CAST(count(*) AS BIGINT) AS n_retrieved_at_k,
                       CAST(min(rank) AS INT) AS first_hit_rank
                FROM hits GROUP BY query_id),
            denom AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
                FROM rel GROUP BY query_id)
            SELECT d.query_id, d.n_relevant,
                   coalesce(p.n_retrieved_at_k, 0) AS n_retrieved_at_k,
                   p.first_hit_rank,
                   round(coalesce(CAST(1.0 AS DOUBLE) / p.first_hit_rank,
                                  0.0), 6) AS rr,
                   round(coalesce(p.n_retrieved_at_k, 0)
                         / CAST(d.n_relevant AS DOUBLE), 6) AS recall_at_k
            FROM denom d LEFT JOIN per_q p ON d.query_id = p.query_id
        """,
        # q_bpe_pairs: full value oracle for BPE round-1 pair statistics —
        # adjacent char pairs weighted by word frequency, top-20 with the
        # trainer's (count desc, left, right) tiebreak
        "q_bpe_pairs": """
            WITH words AS (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS w
                FROM documents),
            wf AS (SELECT w, count(*) AS freq FROM words WHERE w <> ''
                   GROUP BY w),
            pos AS (SELECT w, freq, unnest(range(1, length(w))) AS i
                    FROM wf),
            pairs AS (
                SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
                       substr(w, CAST(i AS INT) + 1, 1) AS right_sym, freq
                FROM pos)
            SELECT left_sym, right_sym,
                   CAST(sum(freq) AS BIGINT) AS pair_count
            FROM pairs GROUP BY left_sym, right_sym
            ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20
        """,
        # q_bpe_contract: merge #1 is the argmax of the q_bpe_pairs SQL —
        # independently recomputed here; rounds 2-6 are Spark-verified
        # booleans (re-tokenization isn't SQL-expressible)
        "q_bpe_contract": """
            WITH words AS (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS w
                FROM documents),
            wf AS (SELECT w, count(*) AS freq FROM words WHERE w <> ''
                   GROUP BY w),
            pos AS (SELECT w, freq, unnest(range(1, length(w))) AS i
                    FROM wf),
            pairs AS (
                SELECT substr(w, CAST(i AS INT), 1) AS l,
                       substr(w, CAST(i AS INT) + 1, 1) AS r, freq
                FROM pos),
            agg AS (
                SELECT l, r, CAST(sum(freq) AS BIGINT) AS c
                FROM pairs GROUP BY l, r
                ORDER BY c DESC, l, r LIMIT 1)
            SELECT CAST(6 AS INT) AS n_merges,
                   l || r AS first_merge,
                   c AS first_count,
                   TRUE AS merges_distinct,
                   TRUE AS vocab_ok
            FROM agg
        """,
        # q_bpe_encode: zero-merge encode == character tokenization, so
        # token count per doc == summed word lengths (closed form)
        "q_bpe_encode": """
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS w
                FROM documents WHERE doc_id < 200)
            SELECT d.doc_id,
                   CAST(coalesce(sum(length(w.w)), 0) AS BIGINT)
                       AS n_tokens
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
            LEFT JOIN (SELECT doc_id, w FROM words WHERE w <> '') w
              ON d.doc_id = w.doc_id
            GROUP BY d.doc_id
        """,
        # q_pagerank: 5 power iterations UNROLLED — contribution sum +
        # teleport per round; the undirected construction guarantees no
        # dangling nodes, so the redistribution term is identically zero
        # and the unrolled SQL is the exact algorithm
        "q_pagerank": """
            WITH pairs AS (
                SELECT DISTINCT o.o_custkey AS c,
                       l.l_suppkey + 1000000 AS s
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                WHERE o.o_custkey < 150),
            edges AS (SELECT c AS src, s AS dst FROM pairs
                      UNION ALL SELECT s, c FROM pairs),
            deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS od
                    FROM edges GROUP BY src),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
            c1 AS (SELECT e.dst AS node, sum(r.rank / d.od) AS c
                   FROM r0 r JOIN edges e ON r.node = e.src
                   JOIN deg d ON r.node = d.node GROUP BY e.dst),
            r1 AS (SELECT o.node, 0.15 / nn.n
                          + 0.85 * coalesce(c.c, 0) AS rank
                   FROM nodes o LEFT JOIN c1 c ON o.node = c.node, nn),
            c2 AS (SELECT e.dst AS node, sum(r.rank / d.od) AS c
                   FROM r1 r JOIN edges e ON r.node = e.src
                   JOIN deg d ON r.node = d.node GROUP BY e.dst),
            r2 AS (SELECT o.node, 0.15 / nn.n
                          + 0.85 * coalesce(c.c, 0) AS rank
                   FROM nodes o LEFT JOIN c2 c ON o.node = c.node, nn),
            c3 AS (SELECT e.dst AS node, sum(r.rank / d.od) AS c
                   FROM r2 r JOIN edges e ON r.node = e.src
                   JOIN deg d ON r.node = d.node GROUP BY e.dst),
            r3 AS (SELECT o.node, 0.15 / nn.n
                          + 0.85 * coalesce(c.c, 0) AS rank
                   FROM nodes o LEFT JOIN c3 c ON o.node = c.node, nn),
            c4 AS (SELECT e.dst AS node, sum(r.rank / d.od) AS c
                   FROM r3 r JOIN edges e ON r.node = e.src
                   JOIN deg d ON r.node = d.node GROUP BY e.dst),
            r4 AS (SELECT o.node, 0.15 / nn.n
                          + 0.85 * coalesce(c.c, 0) AS rank
                   FROM nodes o LEFT JOIN c4 c ON o.node = c.node, nn),
            c5 AS (SELECT e.dst AS node, sum(r.rank / d.od) AS c
                   FROM r4 r JOIN edges e ON r.node = e.src
                   JOIN deg d ON r.node = d.node GROUP BY e.dst),
            r5 AS (SELECT o.node, 0.15 / nn.n
                          + 0.85 * coalesce(c.c, 0) AS rank
                   FROM nodes o LEFT JOIN c5 c ON o.node = c.node, nn)
            SELECT node, round(rank, 6) AS rank FROM r5
        """,
        # q_triangles: the degree-orientation triangle count replicated in
        # SQL — canonical edges, (degree, id)-oriented DAG, wedge
        # self-join, closing-edge join, 3-corner credit explode.  All
        # integers; lcc is the one round-6 division, stated in the same
        # operand order as the Spark side.
        "q_triangles": """
            WITH li AS (
                SELECT l_orderkey AS ok, l_partkey AS s
                FROM lineitem WHERE l_orderkey < 4000),
            ce AS (
                SELECT DISTINCT a.s AS u, b.s AS v
                FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT u AS node FROM ce
                      UNION ALL SELECT v FROM ce)
                GROUP BY node),
            orient AS (
                SELECT CASE WHEN du.degree < dv.degree
                              OR (du.degree = dv.degree AND ce.u < ce.v)
                            THEN ce.u ELSE ce.v END AS lo,
                       CASE WHEN du.degree < dv.degree
                              OR (du.degree = dv.degree AND ce.u < ce.v)
                            THEN ce.v ELSE ce.u END AS hi
                FROM ce JOIN deg du ON ce.u = du.node
                        JOIN deg dv ON ce.v = dv.node),
            tri AS (
                SELECT w1.lo AS piv, w1.hi AS b, w2.hi AS c
                FROM orient w1 JOIN orient w2
                  ON w1.lo = w2.lo AND w1.hi < w2.hi
                JOIN ce ON ce.u = w1.hi AND ce.v = w2.hi),
            credits AS (
                SELECT node, CAST(count(*) AS BIGINT) AS triangles
                FROM (SELECT piv AS node FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
                GROUP BY node)
            SELECT d.node, d.degree,
                   coalesce(t.triangles, 0) AS triangles,
                   CASE WHEN d.degree < 2 THEN 0.0
                        ELSE round(coalesce(t.triangles, 0) * 2.0
                                   / (d.degree * (d.degree - 1)), 6)
                   END AS lcc
            FROM deg d LEFT JOIN credits t ON d.node = t.node
        """,
        # q_link_pred: Adamic-Adar in integer micro-units — each wedge
        # center's 1/ln(deg) rounded to a BIGINT once, pair scores as
        # exact integer sums; existing edges removed by NOT EXISTS on the
        # canonical pair; deterministic (aa_mu DESC, a, b) top-50.
        "q_link_pred": """
            WITH li AS (
                SELECT l_orderkey AS ok, l_partkey AS s
                FROM lineitem WHERE l_orderkey < 4000),
            ce AS (
                SELECT DISTINCT a.s AS u, b.s AS v
                FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT u AS node FROM ce
                      UNION ALL SELECT v FROM ce)
                GROUP BY node),
            centers AS (
                SELECT node AS z,
                       CAST(round(1000000.0 / ln(degree)) AS BIGINT)
                       AS w_mu
                FROM deg WHERE degree >= 2 AND degree <= 60),
            adj AS (
                SELECT c.z, c.w_mu, e.n
                FROM (SELECT u AS z, v AS n FROM ce
                      UNION ALL SELECT v, u FROM ce) e
                JOIN centers c ON e.z = c.z),
            pairs AS (
                SELECT l.n AS a, r.n AS b,
                       CAST(count(*) AS BIGINT) AS common,
                       CAST(sum(l.w_mu) AS BIGINT) AS aa_mu
                FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
                GROUP BY l.n, r.n)
            SELECT a, b, common, aa_mu
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM ce
                              WHERE ce.u = p.a AND ce.v = p.b)
            ORDER BY aa_mu DESC, a, b
            LIMIT 50
        """,
        # q_naive_bayes: the NB model and scorer in SQL — identical
        # Lidstone smoothing (one unseen vocab slot), identical
        # micro-log-unit rounding, identical seen/unseen decomposition;
        # every post-ln step is integer arithmetic.
        "q_naive_bayes": """
            WITH toks AS (
                SELECT doc_id AS id, lang AS label,
                       unnest(list_filter(
                           string_split_regex(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '')) AS term
                FROM documents),
            n_tc AS (SELECT term, label, CAST(count(*) AS BIGINT) AS n
                     FROM toks GROUP BY term, label),
            vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
                      FROM toks),
            ct AS (SELECT label, CAST(count(*) AS BIGINT) AS n_tokens
                   FROM toks GROUP BY label),
            ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            classes AS (
                SELECT nd.label,
                       CAST(round(ln(nd.n_docs / CAST(t.n AS DOUBLE))
                                  * 1000000) AS BIGINT) AS prior_mu,
                       CAST(round(ln(0.5 / (ct.n_tokens
                                            + 0.5 * (v.v + 1)))
                                  * 1000000) AS BIGINT) AS w0_mu
                FROM (SELECT lang AS label,
                             CAST(count(*) AS BIGINT) AS n_docs
                      FROM documents GROUP BY lang) nd
                JOIN ct ON nd.label = ct.label, ntot t, vocab v),
            term_w AS (
                SELECT m.term, m.label,
                       CAST(round(ln((m.n + 0.5)
                                     / (ct.n_tokens + 0.5 * (v.v + 1)))
                                  * 1000000) AS BIGINT) AS w_mu
                FROM n_tc m JOIN ct ON m.label = ct.label, vocab v),
            doc_toks AS (
                SELECT id, term, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id AS id,
                             unnest(list_filter(
                                 string_split_regex(
                                     lower(trim(coalesce(text, ''))),
                                     '\\s+'),
                                 x -> x <> '')) AS term
                      FROM documents WHERE doc_id < 150)
                GROUP BY id, term),
            totals AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_tokens
                       FROM doc_toks GROUP BY id),
            base AS (SELECT t.id, c.label,
                            c.prior_mu + t.n_tokens * c.w0_mu AS base_mu
                     FROM totals t, classes c),
            seen AS (SELECT d.id, m.label,
                            CAST(sum(d.cnt * m.w_mu) AS BIGINT) AS raw_mu,
                            CAST(sum(d.cnt) AS BIGINT) AS seen_cnt
                     FROM doc_toks d JOIN term_w m ON d.term = m.term
                     GROUP BY d.id, m.label),
            scored AS (
                SELECT b.id, b.label,
                       b.base_mu + coalesce(s.raw_mu, 0)
                       - coalesce(s.seen_cnt, 0) * c.w0_mu AS score_mu
                FROM base b
                LEFT JOIN seen s ON b.id = s.id AND b.label = s.label
                JOIN classes c ON b.label = c.label)
            SELECT id AS doc_id, label, score_mu,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY score_mu DESC, label)
                   = 1 AS predicted
            FROM scored
        """,
        # q_chi2_terms: 2x2 presence tables as exact integers; the chi2
        # statistic stated in the same operand order as the Spark
        # expression (every cell cast to DOUBLE first), rounded once;
        # ORDER BY uses the rounded value.
        "q_chi2_terms": """
            WITH lab AS (
                SELECT doc_id, coalesce(text, '') AS text,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents),
            tot AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                           CAST(sum(1 - y) AS BIGINT) AS n_neg
                    FROM lab),
            pres AS (
                SELECT DISTINCT doc_id, y, term
                FROM (SELECT doc_id, y,
                             unnest(list_filter(
                                 string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 x -> x <> '')) AS term
                      FROM lab)),
            dfc AS (SELECT term, CAST(sum(y) AS BIGINT) AS a,
                           CAST(sum(1 - y) AS BIGINT) AS b
                    FROM pres GROUP BY term)
            SELECT term, a AS df_pos, b AS df_neg,
                   round(
                       (CAST(n_pos + n_neg AS DOUBLE)
                        * (CAST(a AS DOUBLE) * CAST(n_neg - b AS DOUBLE)
                           - CAST(b AS DOUBLE)
                           * CAST(n_pos - a AS DOUBLE))
                        * (CAST(a AS DOUBLE) * CAST(n_neg - b AS DOUBLE)
                           - CAST(b AS DOUBLE)
                           * CAST(n_pos - a AS DOUBLE)))
                       / (CAST(a + b AS DOUBLE)
                          * CAST((n_pos + n_neg) - (a + b) AS DOUBLE)
                          * CAST(n_pos AS DOUBLE)
                          * CAST(n_neg AS DOUBLE)), 6) AS chi2
            FROM dfc, tot
            WHERE a + b >= 2 AND a + b < n_pos + n_neg
            ORDER BY chi2 DESC, term ASC
            LIMIT 40
        """,
        # q_assoc_rules: Apriori order-2 in SQL — ceil-threshold on the
        # same IEEE product, item prune before the per-basket self-join,
        # the three ratios in the identical operand order, and the
        # min_confidence filter on the UNROUNDED confidence.
        "q_assoc_rules": """
            WITH b AS (
                SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
                FROM lineitem l JOIN part p
                  ON l.l_partkey = p.p_partkey),
            nb AS (SELECT CAST(count(DISTINCT bid) AS BIGINT) AS n
                   FROM b),
            thr AS (SELECT CAST(ceil(0.02 * n) AS BIGINT) AS t, n
                    FROM nb),
            item_n AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
                       FROM b GROUP BY item),
            fi AS (SELECT i.item, i.n_item
                   FROM item_n i, thr WHERE i.n_item >= thr.t),
            fb AS (SELECT b.bid, b.item, f.n_item
                   FROM b JOIN fi f ON b.item = f.item),
            pairs AS (
                SELECT a.item AS item_a, c.item AS item_b,
                       a.n_item AS n_a, c.n_item AS n_b,
                       CAST(count(*) AS BIGINT) AS pair_count
                FROM fb a JOIN fb c
                  ON a.bid = c.bid AND a.item < c.item
                GROUP BY a.item, c.item, a.n_item, c.n_item),
            fp AS (SELECT p.*, thr.n AS n_baskets
                   FROM pairs p, thr WHERE p.pair_count >= thr.t),
            rules AS (
                SELECT item_a AS antecedent, item_b AS consequent,
                       pair_count, n_a AS n_ante, n_b AS n_cons,
                       n_baskets
                FROM fp
                UNION ALL
                SELECT item_b, item_a, pair_count, n_b, n_a, n_baskets
                FROM fp)
            SELECT antecedent, consequent, pair_count,
                   round(pair_count / CAST(n_baskets AS DOUBLE), 6)
                   AS support,
                   round(pair_count / CAST(n_ante AS DOUBLE), 6)
                   AS confidence,
                   round((pair_count * CAST(n_baskets AS DOUBLE))
                         / (n_ante * CAST(n_cons AS DOUBLE)), 6)
                   AS lift
            FROM rules
            WHERE pair_count / CAST(n_ante AS DOUBLE) >= 0.145
        """,
        # q_mutual_info: per-cell micro-nat terms rounded once then
        # integer-summed; marginal joins are IS NOT DISTINCT FROM (NULL
        # is a category — mirrors the Spark eqNullSafe joins).
        "q_mutual_info": """
            WITH cells AS (
                SELECT lang AS a, source AS b,
                       CAST(count(*) AS BIGINT) AS n_ab
                FROM documents GROUP BY lang, source),
            ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a
                   FROM cells GROUP BY a),
            mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b
                   FROM cells GROUP BY b),
            nn AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM cells),
            j AS (SELECT c.n_ab, ma.n_a, mb.n_b, nn.n
                  FROM cells c
                  JOIN ma ON c.a IS NOT DISTINCT FROM ma.a
                  JOIN mb ON c.b IS NOT DISTINCT FROM mb.b, nn),
            mi AS (SELECT CAST(sum(CAST(round(
                              (n_ab / CAST(n AS DOUBLE))
                              * ln((n_ab * CAST(n AS DOUBLE))
                                   / (n_a * CAST(n_b AS DOUBLE)))
                              * 1000000) AS BIGINT)) AS BIGINT)
                          AS mi_mu,
                          CAST(count(*) AS BIGINT) AS n_cells
                   FROM j),
            ha AS (SELECT CAST(sum(CAST(round(
                              (-(n_a / CAST(x.n AS DOUBLE)))
                              * ln(n_a / CAST(x.n AS DOUBLE))
                              * 1000000) AS BIGINT)) AS BIGINT)
                          AS h_a_mu
                   FROM ma, nn x),
            hb AS (SELECT CAST(sum(CAST(round(
                              (-(n_b / CAST(x.n AS DOUBLE)))
                              * ln(n_b / CAST(x.n AS DOUBLE))
                              * 1000000) AS BIGINT)) AS BIGINT)
                          AS h_b_mu
                   FROM mb, nn x)
            SELECT nn.n AS n, mi.n_cells, mi.mi_mu, ha.h_a_mu, hb.h_b_mu
            FROM nn, mi, ha, hb
        """,
        # q_survival: KM replicated — integer risk-set cumsum, the hazard
        # factor as one double division, the survival product as a
        # list_reduce seeded with a prepended 1.0 and rounded each step
        # (bit-identical to Spark's aggregate() fold).
        "q_survival": """
            WITH pu AS (
                SELECT user_id, min(ts) AS t0,
                       min(CASE WHEN event_type = 'purchase'
                                THEN ts END) AS tp,
                       max(ts) AS tl
                FROM events GROUP BY user_id),
            subj AS (
                SELECT user_id % 3 AS cohort,
                       (epoch_us(coalesce(tp, tl)) - epoch_us(t0))
                       // 3600000000 AS t,
                       CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS ev
                FROM pu),
            at_t AS (SELECT cohort, t, CAST(sum(ev) AS BIGINT) AS d,
                            CAST(count(*) AS BIGINT) AS leave
                     FROM subj GROUP BY cohort, t),
            tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_total
                    FROM subj GROUP BY cohort),
            rws AS (
                SELECT a.cohort, a.t, a.d,
                       CAST(tt.n_total - coalesce(sum(a.leave) OVER (
                                PARTITION BY a.cohort ORDER BY a.t
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                            AS BIGINT) AS n_risk
                FROM at_t a JOIN tot tt ON a.cohort = tt.cohort),
            g AS (SELECT cohort,
                         list(t ORDER BY t) AS ts,
                         list(n_risk ORDER BY t) AS ns,
                         list(d ORDER BY t) AS ds,
                         list((n_risk - d) / n_risk ORDER BY t) AS fs
                  FROM rws GROUP BY cohort),
            ex AS (SELECT cohort, unnest(ts) AS t, unnest(ns) AS n_risk,
                          unnest(ds) AS d,
                          generate_subscripts(ts, 1) AS i, fs
                   FROM g)
            SELECT cohort, t, n_risk, d AS d_events,
                   list_reduce(list_prepend(1.0, fs[1:i]),
                               (acc, x) -> round(acc * x, 6)) AS survival
            FROM ex WHERE d > 0
        """,
        # q_ab_test: the four integer cells pivoted by a self-join on the
        # variant order, then the identical closed-form expressions.
        "q_ab_test": """
            WITH pu AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'purchase'
                                 AND value > 95 THEN 1 ELSE 0 END) AS s
                FROM events GROUP BY user_id),
            ab AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                          AS v, s
                   FROM pu),
            c AS (SELECT v, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(s) AS BIGINT) AS x
                  FROM ab GROUP BY v),
            j AS (SELECT a.v AS variant_a, b.v AS variant_b,
                         a.n AS n_a, b.n AS n_b, a.x AS x_a, b.x AS x_b
                  FROM c a JOIN c b ON a.v < b.v)
            SELECT variant_a, variant_b, n_a, n_b, x_a, x_b,
                   round(x_a / CAST(n_a AS DOUBLE), 6) AS p_a,
                   round(x_b / CAST(n_b AS DOUBLE), 6) AS p_b,
                   round(x_a / CAST(n_a AS DOUBLE)
                         - x_b / CAST(n_b AS DOUBLE), 6) AS lift,
                   round((x_a / CAST(n_a AS DOUBLE)
                          - x_b / CAST(n_b AS DOUBLE))
                         / sqrt((x_a + x_b) / CAST(n_a + n_b AS DOUBLE)
                                * (1.0 - (x_a + x_b)
                                   / CAST(n_a + n_b AS DOUBLE))
                                * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
                   abs((x_a / CAST(n_a AS DOUBLE)
                        - x_b / CAST(n_b AS DOUBLE))
                       / sqrt((x_a + x_b) / CAST(n_a + n_b AS DOUBLE)
                              * (1.0 - (x_a + x_b)
                                 / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / n_a + 1.0 / n_b))) >= 1.959964
                   AS significant
            FROM j
        """,
        # q_bfs: 3 hops unrolled — each layer is the previous frontier's
        # out-neighbors minus everything already settled; distances are
        # exact integers.
        "q_bfs": """
            WITH pairs AS (
                SELECT DISTINCT o.o_custkey AS c,
                       l.l_suppkey + 1000000 AS s
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                WHERE o.o_custkey < 150),
            edges AS (SELECT c AS src, s AS dst FROM pairs
                      UNION ALL SELECT s, c FROM pairs),
            d0 AS (SELECT DISTINCT c AS node FROM pairs WHERE c < 5),
            f1 AS (SELECT DISTINCT e.dst AS node
                   FROM d0 JOIN edges e ON d0.node = e.src
                   WHERE NOT EXISTS (SELECT 1 FROM d0 x
                                     WHERE x.node = e.dst)),
            s1 AS (SELECT node FROM d0 UNION ALL SELECT node FROM f1),
            f2 AS (SELECT DISTINCT e.dst AS node
                   FROM f1 JOIN edges e ON f1.node = e.src
                   WHERE NOT EXISTS (SELECT 1 FROM s1 x
                                     WHERE x.node = e.dst)),
            s2 AS (SELECT node FROM s1 UNION ALL SELECT node FROM f2),
            f3 AS (SELECT DISTINCT e.dst AS node
                   FROM f2 JOIN edges e ON f2.node = e.src
                   WHERE NOT EXISTS (SELECT 1 FROM s2 x
                                     WHERE x.node = e.dst))
            SELECT node, 0 AS dist FROM d0
            UNION ALL SELECT node, 1 FROM f1
            UNION ALL SELECT node, 2 FROM f2
            UNION ALL SELECT node, 3 FROM f3
        """,
        # q_unigram_ppl: Lidstone-smoothed unigram LM scoring — the LM fit,
        # the smoothing arithmetic, and the per-doc aggregation replicated
        # in ANSI SQL (alpha = 0.5, one extra vocab slot for unseen)
        "q_unigram_ppl": """
            WITH doc_terms AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS term
                FROM documents),
            dt AS (SELECT * FROM doc_terms WHERE term <> ''),
            lm AS (SELECT term, count(*) AS lm_count FROM dt GROUP BY term),
            tot AS (SELECT CAST(sum(lm_count) AS BIGINT) AS lm_total,
                           CAST(count(*) AS BIGINT) AS lm_vocab
                    FROM lm),
            scored AS (
                SELECT d.id,
                       ln((coalesce(l.lm_count, 0) + 0.5)
                          / (t.lm_total + 0.5 * (t.lm_vocab + 1))) AS logp
                FROM dt d LEFT JOIN lm l ON d.term = l.term, tot t
                WHERE d.id < 300),
            agg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
                       round(-avg(logp), 6) AS cross_entropy,
                       round(exp(-avg(logp)), 4) AS perplexity
                FROM scored GROUP BY id)
            -- zero-token docs stay visible: n_tokens 0, null metrics
            SELECT doc.doc_id,
                   coalesce(a.n_tokens, 0) AS n_tokens,
                   a.cross_entropy, a.perplexity
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id < 300) doc
            LEFT JOIN agg a ON doc.doc_id = a.id
        """,
        # q_cooccurrence: window-2 directed pairs as 'w1 w2' strings
        # (bijective — tokens carry no whitespace), min_count 5 as an
        # OUTPUT filter only — the PMI joint normalizes over the FULL
        # pair mass, exactly as the Spark side computes
        "q_cooccurrence": """
            WITH toks AS (
                SELECT list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS l
                FROM documents),
            pr_all AS (
                SELECT unnest(
                    [l[i] || ' ' || l[i+1] for i in range(1, len(l))]
                    || [l[i] || ' ' || l[i+2]
                        for i in range(1, len(l) - 1)]) AS pr
                FROM toks),
            all_pairs AS (
                SELECT pr, CAST(count(*) AS BIGINT) AS pair_count
                FROM pr_all GROUP BY pr),
            pair_counts AS (
                SELECT * FROM all_pairs WHERE pair_count >= 5),
            uni AS (
                SELECT term, CAST(count(*) AS BIGINT) AS uni_count
                FROM (SELECT unnest(l) AS term FROM toks) GROUP BY term),
            tot AS (
                SELECT (SELECT CAST(sum(pair_count) AS BIGINT)
                        FROM all_pairs) AS pair_total,
                       (SELECT CAST(sum(uni_count) AS BIGINT)
                        FROM uni) AS uni_total)
            SELECT split_part(p.pr, ' ', 1) AS w1,
                   split_part(p.pr, ' ', 2) AS w2,
                   p.pair_count,
                   round(ln((p.pair_count
                             / CAST(t.pair_total AS DOUBLE))
                            / ((u1.uni_count
                                / CAST(t.uni_total AS DOUBLE))
                               * (u2.uni_count
                                  / CAST(t.uni_total AS DOUBLE)))), 6)
                       AS pmi
            FROM pair_counts p
            JOIN uni u1 ON split_part(p.pr, ' ', 1) = u1.term
            JOIN uni u2 ON split_part(p.pr, ' ', 2) = u2.term, tot t
        """,
        # q_bigram_ppl: interpolated bigram LM — bigrams via a 1-based
        # list comprehension over the token split (bijective 'w1 w2' key:
        # tokens carry no whitespace), lam=0.7; (1.0 - 0.7) is written as
        # an expression so both engines compute the identical double
        "q_bigram_ppl": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS l
                FROM documents),
            bg_all AS (
                SELECT id,
                       unnest([l[i] || ' ' || l[i+1]
                               for i in range(1, len(l))]) AS bg
                FROM toks),
            lm_bg AS (SELECT bg, count(*) AS bg_count FROM bg_all GROUP BY bg),
            lm_ctx AS (SELECT split_part(bg, ' ', 1) AS w1,
                              sum(bg_count) AS ctx_count
                       FROM lm_bg GROUP BY 1),
            uni AS (SELECT unnest(l) AS term FROM toks),
            lm_uni AS (SELECT term, count(*) AS uni_count
                       FROM uni GROUP BY term),
            tot AS (SELECT CAST(sum(uni_count) AS BIGINT) AS uni_total,
                           CAST(count(*) AS BIGINT) AS uni_vocab
                    FROM lm_uni),
            scored AS (
                SELECT d.id,
                       ln(0.7 * (CASE WHEN coalesce(c.ctx_count, 0) > 0
                                 THEN coalesce(b.bg_count, 0)
                                      / CAST(c.ctx_count AS DOUBLE)
                                 ELSE 0.0 END)
                          + (1.0 - 0.7) * ((coalesce(u.uni_count, 0) + 0.5)
                             / (t.uni_total + 0.5 * (t.uni_vocab + 1))))
                       AS logp
                FROM bg_all d
                LEFT JOIN lm_bg b ON d.bg = b.bg
                LEFT JOIN lm_ctx c ON split_part(d.bg, ' ', 1) = c.w1
                LEFT JOIN lm_uni u ON split_part(d.bg, ' ', 2) = u.term,
                tot t
                WHERE d.id < 300),
            q AS (SELECT id, CAST(round(logp * 1000000) AS BIGINT)
                             AS lp
                  FROM scored),
            agg0 AS (SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
                            CAST(sum(lp) AS HUGEINT) AS s
                     FROM q GROUP BY id),
            agg AS (SELECT id, n_bigrams,
                           CAST((CASE WHEN (-s) < 0
                                 THEN -((2 * (-(-s))
                                         + CAST(n_bigrams AS HUGEINT))
                                        // (2 * CAST(n_bigrams
                                                     AS HUGEINT)))
                                 ELSE (2 * (-s)
                                       + CAST(n_bigrams AS HUGEINT))
                                      // (2 * CAST(n_bigrams
                                                   AS HUGEINT)) END)
                                AS DOUBLE) / 1000000.0 AS cross_entropy,
                           round(exp(CAST(-s AS DOUBLE) / n_bigrams
                                     / 1000000.0), 4) AS perplexity
                    FROM agg0)
            SELECT doc.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
                   a.cross_entropy, a.perplexity
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id < 300) doc
            LEFT JOIN agg a ON doc.doc_id = a.id
        """,
        # q_bm25_topk: Lucene-idf BM25, k1=1.2 b=0.75, same operand order
        # as the Spark expression so the doubles agree bit-for-bit
        "q_bm25_topk": _BM25_ORACLE_SQL,
        # q_gopher_rules: the rule battery as pure scalar SQL; ratios are
        # rounded to 6 BEFORE thresholding, exactly like the Spark columns
        "q_gopher_rules": """
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> '') AS words,
                       string_split(text, chr(10)) AS lines
                FROM documents WHERE doc_id < 400),
            sig AS (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS g_n_words,
                       round(length(regexp_replace(text, '\\s', '', 'g'))
                             / CAST(greatest(len(words), 1) AS DOUBLE), 6)
                           AS g_mean_word_len,
                       round((len(regexp_extract_all(text, '#'))
                              + len(regexp_extract_all(text, '\\.\\.\\.')))
                             / CAST(greatest(len(words), 1) AS DOUBLE), 6)
                           AS g_symbol_ratio,
                       round(len(list_filter(lines,
                                 l -> regexp_matches(l, '^\\s*[-*•]')))
                             / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
                           AS g_bullet_ratio,
                       round(len(list_filter(lines,
                                 l -> regexp_matches(l, '\\.\\.\\.\\s*$')))
                             / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
                           AS g_ellipsis_ratio,
                       round(len(list_filter(words,
                                 w -> regexp_matches(w, '[a-z]')))
                             / CAST(greatest(len(words), 1) AS DOUBLE), 6)
                           AS g_alpha_word_ratio,
                       CAST((CASE WHEN regexp_matches(lower(text),
                                  '\\bthe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bbe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bto\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bof\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\band\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bthat\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bhave\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text),
                                  '\\bwith\\b') THEN 1 ELSE 0 END)
                             AS INT) AS g_stop_hits
                FROM base)
            SELECT doc_id, g_n_words, g_mean_word_len, g_symbol_ratio,
                   g_bullet_ratio, g_ellipsis_ratio, g_alpha_word_ratio,
                   g_stop_hits,
                   g_n_words BETWEEN 50 AND 100000 AS r_word_count,
                   g_mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
                   g_symbol_ratio <= 0.1 AS r_symbol_ratio,
                   g_bullet_ratio <= 0.9 AS r_bullet_ratio,
                   g_ellipsis_ratio <= 0.3 AS r_ellipsis_ratio,
                   g_alpha_word_ratio >= 0.8 AS r_alpha_words,
                   g_stop_hits >= 2 AS r_stopwords,
                   (g_n_words BETWEEN 50 AND 100000
                    AND g_mean_word_len BETWEEN 3.0 AND 10.0
                    AND g_symbol_ratio <= 0.1
                    AND g_bullet_ratio <= 0.9
                    AND g_ellipsis_ratio <= 0.3
                    AND g_alpha_word_ratio >= 0.8
                    AND g_stop_hits >= 2) AS gopher_pass
            FROM sig
        """,
        # q_quality_clf: 3 GD iterations unrolled (shared _CLF_ORACLE_CTES
        # chain); unobserved buckets keep their exact 0.0 init on both sides
        "q_quality_clf": f"""
            WITH {_CLF_ORACLE_CTES}
            SELECT CAST(r.range AS INT) AS feat,
                   coalesce(w3.w, 0.0) AS weight
            FROM range(32) r LEFT JOIN w3 ON r.range = w3.feat
            UNION ALL
            SELECT -1 AS feat, b AS weight FROM b3
        """,
        # q_quality_clf_score: score docs < 100 with the w3/b3 model —
        # sigmoid(bias + mean hashed-bucket weight); zero-token docs score
        # sigmoid(bias)
        "q_quality_clf_score": f"""
            WITH {_CLF_ORACLE_CTES},
            sterm AS (SELECT id, feat FROM cfeat WHERE id < 100),
            ssum AS (SELECT s.id, sum(coalesce(w3.w, 0.0)) AS tot,
                            CAST(count(*) AS DOUBLE) AS dl
                     FROM sterm s LEFT JOIN w3 USING (feat) GROUP BY s.id)
            SELECT d.doc_id,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label,
                   round(1.0 / (1.0 + exp(-(b3.b
                         + coalesce(ssum.tot / ssum.dl, 0.0)))), 6)
                       AS clf_score
            FROM documents d LEFT JOIN ssum ON d.doc_id = ssum.id, b3
            WHERE d.doc_id < 100
        """,
        # q_platt_calibration: 3 GD steps unrolled over the shared score
        # chain; lr = 1.0, init (a, b) = (1, 0), params re-rounded to 6
        # decimals per update exactly as platt_calibrate does
        "q_platt_calibration": f"""
            WITH {_QSCORE_ORACLE_CTES},
            cal AS (
                SELECT s.q_score AS sc,
                       CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                FROM scored s JOIN documents d USING (doc_id)),
            caln AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM cal),
            p1 AS (
                SELECT round(1.0 - sum((1.0 / (1.0 + exp(-(1.0 * sc + 0.0)))
                                        - y) * sc) / any_value(n), 6) AS a,
                       round(0.0 - sum(1.0 / (1.0 + exp(-(1.0 * sc + 0.0)))
                                       - y) / any_value(n), 6) AS b
                FROM cal, caln),
            p2 AS (
                SELECT round(p1.a - sum((1.0 / (1.0 + exp(-(p1.a * sc + p1.b)))
                                         - y) * sc) / any_value(n), 6) AS a,
                       round(p1.b - sum(1.0 / (1.0 + exp(-(p1.a * sc + p1.b)))
                                        - y) / any_value(n), 6) AS b
                FROM cal, caln, p1 GROUP BY p1.a, p1.b),
            p3 AS (
                SELECT round(p2.a - sum((1.0 / (1.0 + exp(-(p2.a * sc + p2.b)))
                                         - y) * sc) / any_value(n), 6) AS a,
                       round(p2.b - sum(1.0 / (1.0 + exp(-(p2.a * sc + p2.b)))
                                        - y) / any_value(n), 6) AS b
                FROM cal, caln, p2 GROUP BY p2.a, p2.b)
            SELECT 'a' AS param, a AS value FROM p3
            UNION ALL
            SELECT 'b' AS param, b AS value FROM p3
        """,
        # q_clf_eval_by: the per-source stratified twin — same integer
        # arithmetic, every window/aggregate keyed by source
        "q_clf_eval_by": f"""
            WITH {_CLF_ORACLE_CTES},
            {_CLF_EVAL_BY_CTES},
            berk AS (
                SELECT source, s, si, n_g, pos_g,
                       coalesce(sum(n_g) OVER (PARTITION BY source
                           ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cum_before
                FROM begrp),
            becore AS (
                SELECT source,
                       CAST(sum(n_g) AS BIGINT) AS n,
                       CAST(sum(pos_g) AS BIGINT) AS n_pos,
                       CAST(sum(n_g - pos_g) AS BIGINT) AS n_neg,
                       sum(CAST(pos_g AS DOUBLE)
                           * (2 * cum_before + n_g + 1)) AS ranksum2,
                       sum(CAST(n_g AS HUGEINT) * si * si
                           - 2 * CAST(si AS HUGEINT) * pos_g * 1000000
                           + CAST(pos_g AS HUGEINT)
                             * 1000000000000) AS brier_u2,
                       CAST(sum(CASE WHEN s >= 0.5 THEN pos_g
                                     ELSE 0 END) AS BIGINT) AS tp,
                       CAST(sum(CASE WHEN s >= 0.5 THEN n_g - pos_g
                                     ELSE 0 END) AS BIGINT) AS fp
                FROM berk GROUP BY source),
            bebin AS (
                SELECT source,
                       greatest(least((CAST(round(s * 1000000) AS BIGINT)
                                       * 10) // 1000000, 9), 0) AS bin,
                       sum(n_g) AS n_b,
                       sum(n_g * CAST(round(s * 1000000) AS BIGINT))
                           AS ssi,
                       sum(pos_g) AS pos_b
                FROM begrp GROUP BY 1, 2),
            beece AS (SELECT source,
                             sum(abs(ssi - pos_b * 1000000))
                             / (sum(n_b) * 1000000.0) AS e
                      FROM bebin GROUP BY source),
            bepr AS (
                SELECT *,
                       CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS p,
                       CASE WHEN n_pos > 0 THEN tp / n_pos END AS r
                FROM becore)
            SELECT c.source, n, CAST(0 AS BIGINT) AS n_null, n_pos,
                   n_neg,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                         (ranksum2 - CAST(n_pos AS DOUBLE) * (n_pos + 1))
                         / (2.0 * n_pos * n_neg) END, 6) AS auc,
                   round(brier_u2 / (n * 1000000000000.0), 6)
                       AS brier,
                   round(e, 6) AS ece,
                   round((tp + (n_neg - fp)) / n, 6) AS accuracy,
                   round(p, 6) AS precision,
                   round(r, 6) AS recall,
                   round(CASE WHEN p IS NOT NULL AND r IS NOT NULL
                              AND p + r > 0
                         THEN 2 * p * r / (p + r) END, 6) AS f1
            FROM bepr c JOIN beece USING (source)
        """,
        # q_clf_eval: evaluate_binary restated over the shared scored
        # chain — rank-sums and classification counts are exact integers
        # (held in doubles, exact below 2^53), so AUC/accuracy/precision/
        # recall/F1 match bit-for-bit; brier sums are per-term
        # bit-identical decimal products whose ONLY cross-engine delta is
        # float summation order (~1 ulp), absorbed by the single round-6
        "q_clf_eval": f"""
            WITH {_CLF_ORACLE_CTES},
            {_CLF_EVAL_CTES},
            erk AS (
                SELECT s, si, n_g, pos_g,
                       coalesce(sum(n_g) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cum_before
                FROM egrp),
            ecore AS (
                SELECT CAST(sum(n_g) AS BIGINT) AS n,
                       CAST(sum(pos_g) AS BIGINT) AS n_pos,
                       CAST(sum(n_g - pos_g) AS BIGINT) AS n_neg,
                       sum(CAST(pos_g AS DOUBLE)
                           * (2 * cum_before + n_g + 1)) AS ranksum2,
                       sum(CAST(n_g AS HUGEINT) * si * si
                           - 2 * CAST(si AS HUGEINT) * pos_g * 1000000
                           + CAST(pos_g AS HUGEINT)
                             * 1000000000000) AS brier_u2,
                       CAST(sum(CASE WHEN s >= 0.5 THEN pos_g
                                     ELSE 0 END) AS BIGINT) AS tp,
                       CAST(sum(CASE WHEN s >= 0.5 THEN n_g - pos_g
                                     ELSE 0 END) AS BIGINT) AS fp
                FROM erk),
            ebin AS (
                SELECT greatest(least((CAST(round(s * 1000000) AS BIGINT)
                                       * 10) // 1000000, 9), 0) AS bin,
                       sum(n_g) AS n_b,
                       sum(n_g * CAST(round(s * 1000000) AS BIGINT))
                           AS ssi,
                       sum(pos_g) AS pos_b
                FROM egrp GROUP BY 1),
            eece AS (SELECT sum(abs(ssi - pos_b * 1000000))
                            / (sum(n_b) * 1000000.0) AS e
                     FROM ebin),
            epr AS (
                SELECT *,
                       CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS p,
                       CASE WHEN n_pos > 0 THEN tp / n_pos END AS r
                FROM ecore)
            SELECT n, CAST(0 AS BIGINT) AS n_null, n_pos, n_neg,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                         (ranksum2 - CAST(n_pos AS DOUBLE) * (n_pos + 1))
                         / (2.0 * n_pos * n_neg) END, 6) AS auc,
                   round(brier_u2 / (n * 1000000000000.0), 6)
                       AS brier,
                   round(e, 6) AS ece,
                   round((tp + (n_neg - fp)) / n, 6) AS accuracy,
                   round(p, 6) AS precision,
                   round(r, 6) AS recall,
                   round(CASE WHEN p IS NOT NULL AND r IS NOT NULL
                              AND p + r > 0
                         THEN 2 * p * r / (p + r) END, 6) AS f1
            FROM epr, eece
        """,
        # q_clf_roc: descending-score cumulative TP/FP over the same
        # score groups — exact integer ratios, bit-for-bit
        "q_clf_roc": f"""
            WITH {_CLF_ORACLE_CTES},
            {_CLF_EVAL_CTES},
            etot AS (SELECT CAST(sum(pos_g) AS BIGINT) AS np,
                            CAST(sum(n_g - pos_g) AS BIGINT) AS nn
                     FROM egrp),
            ecum AS (
                SELECT s,
                       sum(pos_g) OVER (ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_tp,
                       sum(n_g - pos_g) OVER (ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_fp
                FROM egrp)
            SELECT s AS score,
                   round(cum_tp / np, 6) AS tpr,
                   round(cum_fp / nn, 6) AS fpr
            FROM ecum, etot WHERE np > 0 AND nn > 0
        """,
        # q_join_fanout: the report restated directly
        "q_join_fanout": """
            WITH lcf AS (SELECT l_suppkey AS suppkey,
                                CAST(count(*) AS BIGINT) AS n_left
                         FROM lineitem GROUP BY 1),
            rcf AS (SELECT s_suppkey AS suppkey,
                           CAST(count(*) AS BIGINT) AS n_right
                    FROM supplier GROUP BY 1),
            pk AS (SELECT suppkey, n_left, n_right,
                          CAST(n_left AS DOUBLE) * n_right AS fanout
                   FROM lcf JOIN rcf USING (suppkey)),
            tot AS (SELECT sum(fanout) AS t FROM pk),
            rt AS (SELECT sum(n_right) AS rtot FROM rcf)
            SELECT suppkey, n_left, n_right, fanout,
                   round(fanout / t, 6) AS fanout_share,
                   CASE WHEN rtot <= 1000000 THEN 'broadcast'
                        WHEN round(fanout / t, 6) >= 2.0 / 32
                            THEN 'salt'
                        ELSE 'none' END AS recommendation
            FROM pk, tot, rt
            ORDER BY fanout DESC, suppkey ASC LIMIT 20
        """,
        # q_salted_join: the PLAIN join — equality proves the salting
        # rewrite preserves multiplicity
        "q_salted_join": """
            SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        # q_scd2: the four SCD2 row classes reconstructed directly —
        # pass-through current rows (with the changed keys' closes),
        # new versions, and key-shifted inserts
        "q_scd2": """
            WITH cdim AS (
                SELECT c_custkey AS k, c_name AS name,
                       c_mktsegment AS seg
                FROM customer)
            SELECT k, name, seg AS segment,
                   DATE '2020-01-01' AS valid_from,
                   CASE WHEN k % 6 = 0 THEN DATE '2024-01-01'
                        END AS valid_to,
                   k % 6 <> 0 AS is_current,
                   false AS scd_conflict
            FROM cdim
            UNION ALL
            SELECT k, name, 'MOVED', DATE '2024-01-01', NULL,
                   true, false
            FROM cdim WHERE k % 6 = 0
            UNION ALL
            SELECT k + 1000000, name, seg, DATE '2024-01-01', NULL,
                   true, false
            FROM cdim WHERE k % 10 = 0
        """,
        # q_radius_join: brute-force cross join + the same fixed-order
        # haversine — lossless-prune proof
        "q_radius_join": """
            WITH rcells AS (
                SELECT p_partkey AS partkey,
                       round(0.025 + (p_partkey % 200) * 0.05, 3)
                           AS latitude,
                       round(0.025 + ((p_partkey // 200) % 200) * 0.05, 3)
                           AS longitude
                FROM part),
            rpts AS (
                SELECT n_nationkey * 0.25 + 0.01 AS qlat,
                       (n_nationkey % 3) * 0.15 + 0.02 AS qlon,
                       n_nationkey AS point_id
                FROM nation),
            rdist AS (
                SELECT p.point_id, c.partkey, c.latitude, c.longitude,
                       round(2 * 6371.0088 * asin(sqrt(
                           pow(sin(radians(p.qlat - c.latitude) / 2), 2)
                           + cos(radians(c.latitude))
                             * cos(radians(p.qlat))
                             * pow(sin(radians(p.qlon - c.longitude)
                                       / 2), 2))), 6) AS distance_km
                FROM rcells c, rpts p)
            SELECT point_id, partkey, latitude, longitude, distance_km
            FROM rdist WHERE distance_km <= 30.0
        """,
        # q_stream_join: the batch interval self-join — append-mode
        # inner stream-stream joins emit exactly this relation
        "q_stream_join": """
            SELECT c.user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   c.ts AS l_ts, p.ts AS r_ts
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts
             AND p.ts < c.ts + INTERVAL 7200 SECONDS
            WHERE c.event_type = 'click'
              AND p.event_type = 'purchase'
        """,
        # q_seasonal: the decomposition restated — identical addition
        # chain for the trend, same rounding protocol
        "q_seasonal": """
            WITH sdaily AS (
                SELECT event_type,
                       CAST(date_trunc('day', ts) AS DATE) AS day,
                       round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
            sbase AS (
                SELECT event_type, day, v,
                       (row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) - 1) % 7
                           AS phase,
                       (lag(v, 3) OVER w + lag(v, 2) OVER w
                        + lag(v, 1) OVER w + v + lead(v, 1) OVER w
                        + lead(v, 2) OVER w + lead(v, 3) OVER w) / 7
                           AS trend
                FROM sdaily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            spm AS (
                SELECT event_type, phase, avg(v - trend) AS pm
                FROM sbase WHERE trend IS NOT NULL GROUP BY 1, 2),
            scm AS (SELECT event_type, avg(pm) AS cm
                    FROM spm GROUP BY 1),
            sseas AS (SELECT s.event_type, s.phase, s.pm - c.cm AS seas
                      FROM spm s JOIN scm c USING (event_type))
            SELECT b.event_type, b.day, b.v AS value,
                   round(b.trend, 6) AS trend,
                   round(e.seas, 6) AS seasonal,
                   round(b.v - b.trend - e.seas, 6) AS residual
            FROM sbase b LEFT JOIN sseas e
              ON b.event_type = e.event_type AND b.phase = e.phase
        """,
        # q_jaccard_prefix: the BRUTE-FORCE word-token Jaccard — the
        # operator's prefix filter is lossless, so brute SQL equality is
        # the proof; round-6 happens before the threshold test on both
        # sides (the Spark operator filters the rounded score)
        "q_jaccard_prefix": """
            WITH jtok AS (
                SELECT DISTINCT id, tok FROM (
                    SELECT doc_id AS id,
                           unnest(string_split_regex(
                               lower(trim(coalesce(text, ''))),
                               '\\s+')) AS tok
                    FROM documents WHERE doc_id < 200)
                WHERE tok <> ''),
            jcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n
                     FROM jtok GROUP BY id),
            jpair AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(count(*) AS BIGINT) AS common
                FROM jtok a JOIN jtok b
                  ON a.tok = b.tok AND a.id < b.id
                GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(common / (ga.n + gb.n - common), 6) AS jaccard
            FROM jpair
            JOIN jcnt ga ON ga.id = id_a
            JOIN jcnt gb ON gb.id = id_b
            WHERE round(common / (ga.n + gb.n - common), 6) >= 0.5
        """,
        "q_winnow": f"""
            WITH {_winnow_ctes(150)}
            SELECT id AS doc_id, CAST(pos AS BIGINT) AS pos, fp
            FROM wsel
        """,
        "q_winnow_matches": f"""
            WITH {_winnow_ctes(400)},
            wfp AS (SELECT DISTINCT id, fp FROM wsel),
            wok AS (SELECT fp FROM wfp GROUP BY fp
                    HAVING count(*) <= 20),
            wkept AS (SELECT id, fp FROM wfp JOIN wok USING (fp))
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.id < b.id
            GROUP BY a.id, b.id
            HAVING count(*) >= 2
        """,
        "q_suppress_rare": """
            WITH freq AS (
                SELECT lang, source FROM documents
                GROUP BY lang, source HAVING count(*) >= 8)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN freq USING (lang, source)
        """,
        "q_profile": """
            SELECT col AS column, n_rows, n_null, n_distinct,
                   min_value, max_value
            FROM (
                SELECT 'l_orderkey' AS col,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(count(*) - count(l_orderkey) AS BIGINT)
                           AS n_null,
                       CAST(count(DISTINCT l_orderkey) AS BIGINT)
                           AS n_distinct,
                       CAST(min(l_orderkey) AS DOUBLE) AS min_value,
                       CAST(max(l_orderkey) AS DOUBLE) AS max_value
                FROM lineitem
                UNION ALL
                SELECT 'l_quantity', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(l_quantity) AS BIGINT),
                       CAST(count(DISTINCT l_quantity) AS BIGINT),
                       CAST(min(l_quantity) AS DOUBLE),
                       CAST(max(l_quantity) AS DOUBLE)
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(l_extendedprice) AS BIGINT),
                       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
                       CAST(min(l_extendedprice) AS DOUBLE),
                       CAST(max(l_extendedprice) AS DOUBLE)
                FROM lineitem
                UNION ALL
                SELECT 'l_discount', CAST(count(*) AS BIGINT),
                       CAST(count(*) - count(l_discount) AS BIGINT),
                       CAST(count(DISTINCT l_discount) AS BIGINT),
                       CAST(min(l_discount) AS DOUBLE),
                       CAST(max(l_discount) AS DOUBLE)
                FROM lineitem)
        """,
        # q_bloom_dedup: full value oracle for the Bloom DECISION — the
        # bits relation and all four probe positions are md5 arithmetic
        # identical in both engines (false positives match exactly too)
        "q_bm25_batch": f"""
            WITH {_bm25_batch_ranked()}
            SELECT query_id, doc_id, n_hit_terms, bm25, rank
            FROM rankedq WHERE rank <= 10
        """,
        "q_hard_negatives": f"""
            WITH {_bm25_batch_ranked()}
            SELECT query_id, doc_id, n_hit_terms, bm25, rank,
                   CASE WHEN rank <= 2 THEN 'pos' ELSE 'neg' END AS label
            FROM rankedq WHERE rank <= 10
        """,
        "q_bloom_dedup": _BLOOM_ORACLE_SQL,
        "q_bloom_stream": _BLOOM_ORACLE_SQL,
        "q_robust_outliers": """
            WITH med AS (
                SELECT user_id, quantile_cont(value, 0.5) AS ro_med
                FROM events GROUP BY user_id),
            j AS (
                SELECT e.event_id, e.user_id, e.value, m.ro_med
                FROM events e JOIN med m USING (user_id)),
            mad AS (
                SELECT user_id,
                       quantile_cont(abs(value - ro_med), 0.5) AS ro_mad
                FROM j GROUP BY user_id)
            SELECT j.event_id, j.user_id, j.value, j.ro_med, mad.ro_mad,
                   CASE WHEN mad.ro_mad > 0
                        THEN round(abs(j.value - j.ro_med)
                                   / (1.4826 * mad.ro_mad), 6)
                   END AS ro_z,
                   (mad.ro_mad > 0
                    AND abs(j.value - j.ro_med)
                        > 3.5 * (1.4826 * mad.ro_mad)) AS ro_outlier
            FROM j JOIN mad USING (user_id)
        """,
        "q_trend": """
            SELECT l_partkey,
                   CAST(regr_count(l_extendedprice, l_quantity)
                        AS BIGINT) AS n_pairs,
                   round(regr_slope(l_extendedprice, l_quantity), 6)
                       AS slope,
                   round(regr_intercept(l_extendedprice, l_quantity), 6)
                       AS intercept,
                   round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
            FROM lineitem GROUP BY l_partkey
        """,
        # q_dsir_weights: shared-support smoothed unigram log-ratio
        "q_dsir_weights": f"""
            WITH {_DSIR_ORACLE_CTES}
            SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                   a.log_weight, a.avg_log_weight
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN agg a ON d.doc_id = a.id
        """,
        # q_dsir_select: Gumbel-top-50 under the md5-derived uniform; the
        # 13-hex-digit value is rebuilt with integer shifts (exact BIGINT
        # sum) and divided by 2^52 so u is bit-identical to Spark's
        # conv(...,16,10)/16^13
        "q_dsir_select": f"""
            WITH {_DSIR_ORACLE_CTES},
            keyed AS (
                SELECT id AS doc_id, n_tokens, log_weight, avg_log_weight,
                       round(log_weight / 1.0
                             - ln(-ln(greatest(
                                 CAST(list_sum(
                                     [CAST(strpos('0123456789abcdef',
                                           md5(CAST(id AS VARCHAR))[i]) - 1
                                           AS BIGINT)
                                      * (CAST(1 AS BIGINT)
                                         << (4 * (13 - i)))
                                      for i in range(1, 14)]) AS DOUBLE)
                                 / CAST(CAST(1 AS BIGINT) << 52 AS DOUBLE),
                                 1e-18))), 6) AS gumbel_key
                FROM agg WHERE n_tokens > 0)
            SELECT doc_id, n_tokens, log_weight, avg_log_weight, gumbel_key
            FROM keyed
            ORDER BY gumbel_key DESC, doc_id ASC
            LIMIT 50
        """,
        # q_audio_codec: real RIFF/WAVE parse vs the closed-form header
        # facts; duration is the same IEEE float64 division on both sides
        "q_audio_codec": """
            SELECT doc_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(100 + (doc_id % 50) * 7 AS BIGINT) AS n_samples,
                   (100 + (doc_id % 50) * 7) / 8000.0 AS duration_s
            FROM documents WHERE doc_id < 100
        """,
        # q_session_stream's oracle is the identical batch sessionization
        # SQL: the streaming availableNow run must reproduce it exactly
        # (stream/batch parity, like q_stream_threshold)
        "q_session_stream": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    >= CAST(3600 AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            numbered AS (
                SELECT *,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 1 HOUR AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, session_id
        """,
        "q_session_window": """
            -- Spark session_window boundary semantics: an event exactly
            -- `gap` after the previous opens a NEW session (>=, not >,
            -- unlike q_sessionize), and the window end extends gap past
            -- the last event
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    >= CAST(3600 AS BIGINT) * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            numbered AS (
                SELECT *,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged)
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 1 HOUR AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, session_id
        """,
        "q_cube": """
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(grouping(event_type) AS INT) AS g_type,
                   CAST(grouping(CAST(ts AS DATE)) AS INT) AS g_day
            FROM events
            GROUP BY CUBE (event_type, CAST(ts AS DATE))
        """,
        "q_json_extract": """
            WITH parsed AS (
                SELECT event_type,
                       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                FROM events)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(k) AS BIGINT) AS n_with_k,
                   round(avg(k), 6) AS avg_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM parsed GROUP BY event_type
        """,
        "q_leakage_safe_split": """
            -- same recursive reachability as q_dedup_clusters, then the
            -- assign_split md5 ladder over the GROUP id (cuts 'cccc'/'e666'
            -- = 0.8/0.9 of the 16-bit prefix space)
            WITH RECURSIVE norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            counts AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM shingled GROUP BY id),
            prs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM shingled a JOIN shingled b
                  ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id),
            sim AS (
                SELECT id_a, id_b
                FROM prs
                JOIN counts ga ON ga.id = id_a
                JOIN counts gb ON gb.id = id_b
                WHERE common * 1.0 / (ga.n_grams + gb.n_grams - common) >= 0.5),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM sim
                UNION
                SELECT id_b AS src, id_a AS dst FROM sim),
            walk (node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, w.label
                FROM walk w JOIN edges e ON e.dst = w.node
                WHERE w.label < e.src),
            comp AS (
                SELECT node AS doc_id, min(label) AS cluster_id
                FROM walk GROUP BY node),
            grouped AS (
                SELECT d.doc_id,
                       coalesce(c.cluster_id, d.doc_id) AS group_id
                FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
                LEFT JOIN comp c USING (doc_id))
            SELECT doc_id, group_id,
                   CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 4)
                             < 'cccc' THEN 'train'
                        WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 4)
                             < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM grouped
        """,
        "q_repeated_spans": """
            WITH toks AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(trim(text), '\\s+')
                       END AS ts
                FROM documents WHERE doc_id < 300),
            spans AS (
                SELECT doc_id, i AS pos,
                       md5(array_to_string(
                           ts[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) AS h
                FROM toks, unnest(range(1, greatest(len(ts) - 8 + 2, 1)))
                     AS t(i)),
            dup AS (
                SELECT h FROM spans
                GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            hits AS (
                SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (h)),
            nds AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
                FROM hits GROUP BY doc_id),
            cov AS (
                SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_dup_tokens
                FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS p
                      FROM hits)
                GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.ts) AS BIGINT) AS n_tokens,
                   coalesce(n.n_dup_spans, 0) AS n_dup_spans,
                   coalesce(c.n_dup_tokens, 0) AS n_dup_tokens,
                   round(coalesce(c.n_dup_tokens, 0) * 1.0
                         / greatest(len(t.ts), 1), 6) AS dup_fraction
            FROM toks t
            LEFT JOIN nds n USING (doc_id)
            LEFT JOIN cov c USING (doc_id)
        """,
        "q_length_buckets": """
            WITH toks AS (
                SELECT doc_id, source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                       END AS n_tokens
                FROM documents),
            b AS (
                SELECT doc_id, source, n_tokens,
                       CASE WHEN n_tokens <= 0 THEN 0
                            ELSE CAST(length(bin(n_tokens)) AS BIGINT)
                       END AS bucket
                FROM toks)
            SELECT doc_id, source, n_tokens, bucket,
                   CAST((row_number() OVER (PARTITION BY source, bucket
                         ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_id
            FROM b
        """,
        "q_semantic_dedup_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_total,
                   TRUE AS partition_ok,
                   TRUE AS containment_ok,
                   TRUE AS kept_majority_ok
            FROM embeddings
        """,
        "q_nearest_reindex": """
            WITH cells AS (
                SELECT p_partkey AS partkey,
                       round(0.025 + (p_partkey % 20) * 0.05, 3) AS slat,
                       round(0.025 + (CAST(floor(p_partkey / 20) AS BIGINT)
                                      % 200) * 0.05, 3) AS slon,
                       p_retailprice AS val
                FROM part),
            points AS (
                SELECT n_nationkey AS point_id,
                       n_nationkey * 0.035 + 0.013 AS latitude,
                       (n_nationkey % 5) * 0.09 + 0.021 AS longitude
                FROM nation),
            -- brute-force argmin truth (the Spark side is the bucketed
            -- candidate join; on a full grid both agree exactly)
            ranked AS (
                SELECT p.point_id, p.latitude, p.longitude,
                       c.slat, c.slon, c.partkey, c.val,
                       sqrt((p.latitude - c.slat) * (p.latitude - c.slat)
                            + (p.longitude - c.slon) * (p.longitude - c.slon))
                       AS dist,
                       -- partkey last: at SFs where the wrapped lon index
                       -- makes cells coincide, (dist, slat, slon) ties and
                       -- Spark's min(struct) falls through to the first
                       -- value column (partkey)
                       row_number() OVER (PARTITION BY p.point_id
                           ORDER BY (p.latitude - c.slat) * (p.latitude - c.slat)
                                    + (p.longitude - c.slon) * (p.longitude - c.slon),
                                    c.slat, c.slon, c.partkey) AS rn
                FROM points p, cells c)
            SELECT point_id, latitude, longitude,
                   slat AS latitude_src, slon AS longitude_src,
                   round(dist, 6) AS distance_src,
                   partkey AS partkey_src, val AS val_src
            FROM ranked WHERE rn = 1
        """,
        "q_pack_sequences": """
            WITH toks AS (
                SELECT doc_id, source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                       END AS n_tokens
                FROM documents)
            -- CAST to BIGINT: DuckDB's window sum(BIGINT) is HUGEINT, and
            -- HUGEINT-derived columns surface as float64 through pandas —
            -- the r4/r5 hash divergence vs Spark's integer pack_id
            SELECT doc_id, source, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // 256 AS BIGINT) AS pack_id
            FROM toks
        """,
        "q_cap_per_source": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY doc_id) AS rn
                FROM documents)
            WHERE rn <= 10
        """,
        "q_token_count": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   END AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT)
                   AS n_bpe_tokens
            FROM documents
        """,
        "q_quality": """
            WITH raw AS (
                SELECT doc_id,
                       CAST(length(coalesce(text, '')) AS DOUBLE) AS n_chars,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN 0.0
                            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                       END AS n_tokens,
                       CAST(len(regexp_extract_all(coalesce(text, ''), '[.,;:!?]')) AS DOUBLE) AS n_punct,
                       CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]')) AS DOUBLE) AS n_alpha,
                       CAST(len(regexp_extract_all(coalesce(text, ''), '(?i)\\b(the|and|of|to|is)\\b')) AS DOUBLE) AS n_stop
                FROM documents),
            ratios AS (
                SELECT doc_id, n_chars, n_tokens,
                       n_alpha / greatest(n_chars, 1.0) AS alpha_ratio,
                       n_punct / greatest(n_chars, 1.0) AS punct_ratio,
                       n_stop / greatest(n_tokens, 1.0) AS stop_ratio,
                       n_chars / greatest(n_tokens, 1.0) AS mean_token_len
                FROM raw)
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS q_n_chars,
                   CAST(n_tokens AS BIGINT) AS q_n_tokens,
                   round(alpha_ratio, 6) AS q_alpha_ratio,
                   round(punct_ratio, 6) AS q_punct_ratio,
                   round(stop_ratio, 6) AS q_stop_ratio,
                   round(least(1.0,
                         0.4 * alpha_ratio
                       + 0.3 * least(1.0, stop_ratio * 5)
                       + 0.2 * (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 12
                                     THEN 1.0 ELSE 0.0 END)
                       + 0.1 * least(1.0, punct_ratio * 20)), 6) AS q_score
            FROM ratios
        """,
        "q_lang_id": """
            WITH hits AS (
                SELECT doc_id,
                       len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is)\\b')) AS h_en,
                       len(regexp_extract_all(text, '(?i)\\b(der|und|die|nicht|ist)\\b')) AS h_de,
                       len(regexp_extract_all(text, '(?i)\\b(le|la|et|les|est)\\b')) AS h_fr,
                       len(regexp_extract_all(text, '(?i)\\b(el|los|que|es|una)\\b')) AS h_es
                FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                        WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM hits
        """,
        "q_fingerprint": """
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "q_ngram_jaccard": """
            WITH norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            counts AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM shingled GROUP BY id),
            pairs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM shingled a JOIN shingled b
                  ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(common * 1.0 / (ga.n_grams + gb.n_grams - common), 6) AS jaccard
            FROM pairs
            JOIN counts ga ON ga.id = id_a
            JOIN counts gb ON gb.id = id_b
            WHERE common * 1.0 / (ga.n_grams + gb.n_grams - common) >= 0.5
        """,
        "q_ngram_jaccard_capped": """
            WITH norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            kept AS (
                -- document-frequency cap: shingled is distinct per (id, g),
                -- so count(*) per g IS the doc frequency
                SELECT id, g FROM shingled
                QUALIFY count(*) OVER (PARTITION BY g) <= 50),
            counts AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM kept GROUP BY id),
            pairs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM kept a JOIN kept b
                  ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(common * 1.0 / (ga.n_grams + gb.n_grams - common), 6) AS jaccard
            FROM pairs
            JOIN counts ga ON ga.id = id_a
            JOIN counts gb ON gb.id = id_b
            WHERE common * 1.0 / (ga.n_grams + gb.n_grams - common) >= 0.5
        """,
        "q_repetition": """
            WITH terms AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
                FROM documents),
            terms_f AS (SELECT * FROM terms WHERE term != ''),
            per_term AS (
                SELECT id, term, count(*) AS c
                FROM terms_f GROUP BY id, term),
            agg AS (
                SELECT id,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_distinct,
                       CAST(max(c) AS BIGINT) AS top_tf
                FROM per_term GROUP BY id)
            SELECT d.doc_id,
                   coalesce(n_tokens, 0) AS n_tokens,
                   coalesce(n_distinct, 0) AS n_distinct,
                   round(1 - coalesce(n_distinct, 0) * 1.0
                         / greatest(coalesce(n_tokens, 0), 1), 6) AS dup_ratio,
                   coalesce(top_tf, 0) AS top_tf,
                   round(coalesce(top_tf, 0) * 1.0
                         / greatest(coalesce(n_tokens, 0), 1), 6) AS top_ratio
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN agg ON agg.id = d.doc_id
        """,
        "q_redact_pii": """
            WITH src AS (
                SELECT doc_id, text FROM documents WHERE doc_id < 50
                UNION ALL
                SELECT * FROM (VALUES
                    (9001, 'contact jane.doe@example.com or +1 555-123-4567 today'),
                    (9002, 'no personal identifiers in this row at all'))
                    AS v(doc_id, text)),
            pass1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '[REDACTED]', 'g') AS t1
                FROM src)
            SELECT doc_id,
                   regexp_replace(t1, '\\+?[0-9][0-9\\-\\s()]{6,}[0-9]',
                                  '[REDACTED]', 'g') AS clean_text,
                   CAST(c1 + len(regexp_extract_all(t1,
                        '\\+?[0-9][0-9\\-\\s()]{6,}[0-9]')) AS BIGINT)
                   AS n_redactions
            FROM pass1
        """,
        "q_contamination": """
            WITH norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents),
            cand AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 6, 2)),
                                          i -> substr(t, CAST(i AS INT), 8)),
                           g -> length(g) = 8))) AS g
                FROM norm WHERE id < 100),
            ref AS (
                SELECT DISTINCT unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 6, 2)),
                                          i -> substr(t, CAST(i AS INT), 8)),
                           g -> length(g) = 8))) AS g
                FROM norm WHERE id BETWEEN 100 AND 199),
            total AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM cand GROUP BY id),
            matched AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_matched
                FROM cand WHERE g IN (SELECT g FROM ref) GROUP BY id)
            SELECT total.id AS doc_id, n_grams,
                   CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched,
                   round(coalesce(n_matched, 0) * 1.0 / n_grams, 6) AS containment
            FROM total LEFT JOIN matched USING (id)
        """,
        "q_tfidf_topk": """
            WITH terms AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
                FROM documents WHERE doc_id < 100),
            terms_f AS (SELECT * FROM terms WHERE term != ''),
            tf AS (
                SELECT id, term, CAST(count(*) AS BIGINT) AS tf
                FROM terms_f GROUP BY id, term),
            dfreq AS (
                SELECT term, count(DISTINCT id) AS df
                FROM terms_f GROUP BY term),
            n AS (
                SELECT count(DISTINCT doc_id) AS n
                FROM documents WHERE doc_id < 100),
            scored AS (
                SELECT id, term, tf,
                       round(tf * (ln((n + 1) * 1.0 / (df + 1)) + 1), 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY id
                            ORDER BY tfidf DESC, term ASC) AS rank
                FROM scored)
            SELECT id, term, tf, tfidf, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "q_hll_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_id_distinct,
                   CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
                   CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
                   TRUE AS doc_id_hll_ok, TRUE AS lang_hll_ok,
                   TRUE AS source_hll_ok
            FROM documents
        """,
        "q_corpus_report": """
            WITH a AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(sum(length(text)) AS DOUBLE) AS total_chars,
                       CAST(round(avg(length(text)), 6) AS DOUBLE) AS avg_chars,
                       CAST(sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END)
                            AS DOUBLE) AS n_blank,
                       CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
                       CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs
                FROM documents)
            SELECT 'n_docs' AS metric, n_docs AS value FROM a
            UNION ALL SELECT 'total_chars', total_chars FROM a
            UNION ALL SELECT 'avg_chars', avg_chars FROM a
            UNION ALL SELECT 'n_blank', n_blank FROM a
            UNION ALL SELECT 'n_sources', n_sources FROM a
            UNION ALL SELECT 'n_langs', n_langs FROM a
        """,
        "q_vocab": """
            WITH toks AS (
                SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
                FROM documents),
            counts AS (
                SELECT token, count(*) AS cnt
                FROM toks WHERE token != ''
                GROUP BY token HAVING count(*) >= 5)
            SELECT token,
                   CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
                        AS INT) AS token_id,
                   CAST(cnt AS BIGINT) AS count
            FROM counts
            QUALIFY token_id < 200
        """,
        "q_heavy_tokens": """
            WITH toks AS (
                SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
                FROM documents),
            t2 AS (SELECT token FROM toks WHERE token != ''),
            total AS (SELECT count(*) AS n FROM t2),
            counts AS (SELECT token, count(*) AS occurrences
                       FROM t2 GROUP BY token)
            SELECT token, CAST(occurrences AS BIGINT) AS occurrences,
                   round(occurrences * 1.0 / n, 6) AS fraction
            FROM counts, total
            WHERE occurrences >= n * 0.01
        """,
        "q_quantize": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings WHERE vec_id < 500),
            sc AS (
                SELECT vec_id, e,
                       greatest(CAST(list_max(list_transform(e, x -> abs(x)))
                                     AS DOUBLE), 1e-30) / 127.0 AS s
                FROM v)
            SELECT vec_id, round(s, 9) AS qscale,
                   array_to_string(list_transform(e,
                       x -> CAST(CAST(round(x / s) AS TINYINT) AS VARCHAR)),
                       ',') AS qvec
            FROM sc
        """,
        "q_quantized_topk": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            sc AS (
                SELECT vec_id, e,
                       greatest(CAST(list_max(list_transform(e, x -> abs(x)))
                                     AS DOUBLE), 1e-30) / 127.0 AS s
                FROM v),
            deq AS (
                SELECT vec_id,
                       list_transform(
                           list_transform(e, x -> CAST(round(x / s) AS TINYINT)),
                           q -> q * s) AS d
                FROM sc),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.d)
                             / greatest(sqrt(list_dot_product(q.e, q.e))
                                        * sqrt(list_dot_product(c.d, c.d)),
                                        1e-300), 6) AS cosine
                FROM v q JOIN deq c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        # q_matryoshka_topk: same chain over the 16-component slice
        # (cosine is scale-invariant, so the oracle skips the renorm)
        "q_matryoshka_topk": """
            WITH v AS (
                SELECT vec_id,
                       CAST(embedding AS DOUBLE[])[1:16] AS e
                FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6)
                           AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "q_cosine_topk": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "q_embedding_dedup": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
        """,
        "q_dedup_clusters": """
            -- Connected components as a recursive reachability fixpoint over
            -- the (already hash-matched) jaccard pair relation: walk(node,
            -- label) enumerates labels reachable from each node; UNION
            -- dedup guarantees termination on the cyclic graph, and the
            -- label < src guard prunes non-minimal paths (the component
            -- minimum always survives: every hop away from the min node
            -- goes to a larger id).
            WITH RECURSIVE norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            counts AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM shingled GROUP BY id),
            prs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM shingled a JOIN shingled b
                  ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id),
            sim AS (
                SELECT id_a, id_b
                FROM prs
                JOIN counts ga ON ga.id = id_a
                JOIN counts gb ON gb.id = id_b
                WHERE common * 1.0 / (ga.n_grams + gb.n_grams - common) >= 0.5),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM sim
                UNION
                SELECT id_b AS src, id_a AS dst FROM sim),
            walk (node, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.src, w.label
                FROM walk w JOIN edges e ON e.dst = w.node
                WHERE w.label < e.src)
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM walk GROUP BY node
        """,
        # q_minhash_lsh, q_simhash_dups, q_lsh_topk, q_ivf_topk,
        # q_embedding_dedup_lsh: intentionally omitted — hash-sketch /
        # model-fitted approximate operators with no ANSI-SQL equivalent
        # (rows-only check).  Their *_recall / *_contract twins below carry
        # the checkable side: exact ground-truth aggregates recomputed here
        # for real, plus TRUE assertions on the recall/precision/
        # completeness booleans Spark derives from the actual sketch output.
        "q_split_budget": """
            WITH split AS (
                SELECT *,
                       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                                 < 'cccc' THEN 'train'
                            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                                 < 'e666' THEN 'val'
                            ELSE 'test' END AS split
                FROM documents)
            SELECT split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                            END) AS BIGINT) AS ws_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')))
                        AS BIGINT) AS bpe_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM split GROUP BY split
        """,
        "q_split_assign": """
            -- cumulative cuts: 0.8 -> 0xcccc, 0.9 -> 0xe666; the last
            -- label takes the remainder
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                             < 'cccc' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                             < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q_stratified_sample": """
            -- per-stratum cuts: 1.0 -> 'g' (keep all; sorts after every
            -- hex digit), 0.0 -> '0000' (keep none), default 0.4 -> 0x6666
            SELECT doc_id, source
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                  CASE source WHEN 'src0' THEN 'g'
                              WHEN 'src1' THEN '0000'
                              ELSE '6666' END
        """,
        "q_shuffle_key": """
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':' || '42') AS shuffle_key
            FROM documents
        """,
        "q_clean_lines": """
            WITH ml AS (
                SELECT doc_id, array_to_string(
                    list_transform(range(0, CAST(ceil(len(ws) / 4.0) AS INT)),
                        i -> array_to_string(
                                 list_slice(ws, CAST(i * 4 + 1 AS INT),
                                            CAST(i * 4 + 4 AS INT)), ' ')
                             || CASE WHEN i % 3 = 0 THEN '.' ELSE '' END),
                    chr(10)) AS mtext
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents WHERE doc_id < 200)),
            filt AS (
                SELECT doc_id,
                       string_split(mtext, chr(10)) AS ls,
                       list_filter(string_split(mtext, chr(10)),
                           l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 4
                                AND regexp_matches(trim(l), '[.!?"]$')) AS kept
                FROM ml)
            SELECT doc_id,
                   CAST(len(ls) AS INT) AS n_lines,
                   CAST(len(kept) AS INT) AS n_lines_kept,
                   array_to_string(kept, chr(10)) AS clean_text
            FROM filt
        """,
        "q_line_dedup": """
            WITH ml AS (
                SELECT doc_id, array_to_string(
                    list_transform(range(0, CAST(ceil(len(ws) / 4.0) AS INT)),
                        i -> array_to_string(
                                 list_slice(ws, CAST(i * 4 + 1 AS INT),
                                            CAST(i * 4 + 4 AS INT)), ' ')
                             || CASE WHEN i % 3 = 0 THEN '.' ELSE '' END),
                    chr(10)) AS mtext
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents WHERE doc_id < 200)),
            lines AS (
                SELECT doc_id, pl.pos AS pos, pl.line AS line FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ls) + 1),
                               i -> {'pos': i,
                                     'line': ls[CAST(i AS INT)]})) AS pl
                    FROM (SELECT doc_id,
                                 string_split(mtext, chr(10)) AS ls
                          FROM ml))),
            content AS (
                SELECT doc_id, pos, line, lower(trim(line)) AS nrm
                FROM lines WHERE trim(line) <> ''),
            hot AS (
                SELECT nrm FROM content
                GROUP BY nrm HAVING count(DISTINCT doc_id) > 50),
            kept AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           row_number() OVER (PARTITION BY nrm
                               ORDER BY doc_id, pos) AS rn
                    FROM content
                    WHERE nrm NOT IN (SELECT nrm FROM hot))
                WHERE rn = 1
                UNION ALL
                SELECT doc_id, pos, line
                FROM lines WHERE trim(line) = ''),
            tot AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                FROM lines GROUP BY doc_id),
            agg AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_lines_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id)
            SELECT t.doc_id, t.n_lines,
                   coalesce(a.n_lines_kept, 0) AS n_lines_kept,
                   coalesce(a.clean_text, '') AS clean_text
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "q_dedup_against": """
            WITH k AS (
                SELECT doc_id, source, n_chars,
                       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                           AS dk
                FROM documents),
            ref AS (SELECT DISTINCT dk FROM k WHERE doc_id < 250),
            fresh AS (
                SELECT doc_id, source, n_chars, dk FROM k
                WHERE doc_id >= 250
                  AND dk NOT IN (SELECT dk FROM ref))
            SELECT doc_id, source, n_chars FROM (
                SELECT *, row_number() OVER (PARTITION BY dk
                           ORDER BY doc_id) AS rn
                FROM fresh)
            WHERE rn = 1
        """,
        "q_jaccard_cross": """
            WITH norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            ls AS (
                SELECT id, g FROM shingled WHERE id < 100
                QUALIFY count(*) OVER (PARTITION BY g) <= 50),
            rs AS (
                SELECT id, g FROM shingled WHERE id >= 100
                QUALIFY count(*) OVER (PARTITION BY g) <= 50),
            lc AS (SELECT id, CAST(count(*) AS BIGINT) AS nl
                   FROM ls GROUP BY id),
            rc AS (SELECT id, CAST(count(*) AS BIGINT) AS nr
                   FROM rs GROUP BY id),
            pairs AS (
                SELECT ls.id AS id_l, rs.id AS id_r, count(*) AS common
                FROM ls JOIN rs ON ls.g = rs.g
                GROUP BY ls.id, rs.id)
            SELECT id_l, id_r,
                   round(common * 1.0 / (lc.nl + rc.nr - common), 6)
                       AS jaccard
            FROM pairs
            JOIN lc ON lc.id = id_l
            JOIN rc ON rc.id = id_r
            WHERE common * 1.0 / (lc.nl + rc.nr - common) >= 0.25
        """,
        "q_curation_v2": """
            WITH ml AS (
                SELECT doc_id, array_to_string(
                    list_transform(range(0, CAST(ceil(len(ws) / 4.0) AS INT)),
                        i -> array_to_string(
                                 list_slice(ws, CAST(i * 4 + 1 AS INT),
                                            CAST(i * 4 + 4 AS INT)), ' ')
                             || CASE WHEN i % 3 = 0 THEN '.' ELSE '' END),
                    chr(10)) AS mtext
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents WHERE doc_id < 200)),
            cleaned AS (
                SELECT doc_id, array_to_string(
                    list_filter(string_split(mtext, chr(10)),
                        l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 4
                             AND regexp_matches(trim(l), '[.!?"]$')),
                    chr(10)) AS ct
                FROM ml),
            lines AS (
                SELECT doc_id, pl.pos AS pos, pl.line AS line FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ls) + 1),
                               i -> {'pos': i,
                                     'line': ls[CAST(i AS INT)]})) AS pl
                    FROM (SELECT doc_id, string_split(ct, chr(10)) AS ls
                          FROM cleaned))),
            content AS (
                SELECT doc_id, pos, line, lower(trim(line)) AS nrm
                FROM lines WHERE trim(line) <> ''),
            hot AS (
                SELECT nrm FROM content
                GROUP BY nrm HAVING count(DISTINCT doc_id) > 50),
            keptl AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           row_number() OVER (PARTITION BY nrm
                               ORDER BY doc_id, pos) AS rn
                    FROM content
                    WHERE nrm NOT IN (SELECT nrm FROM hot))
                WHERE rn = 1
                UNION ALL
                SELECT doc_id, pos, line
                FROM lines WHERE trim(line) = ''),
            rebuilt AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_lines_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS ctext
                FROM keptl GROUP BY doc_id),
            final AS (
                SELECT d.doc_id, d.source,
                       coalesce(r.n_lines_kept, 0) AS n_lines_kept,
                       coalesce(r.ctext, '') AS ctext
                FROM (SELECT doc_id, source FROM documents
                      WHERE doc_id < 200) d
                LEFT JOIN rebuilt r USING (doc_id)),
            toks AS (
                SELECT doc_id, source, n_lines_kept,
                       CASE WHEN trim(ctext) = '' THEN 0
                            ELSE CAST(len(string_split_regex(trim(ctext),
                                      '\\s+')) AS BIGINT)
                       END AS n_tokens
                FROM final),
            train AS (
                SELECT * FROM toks
                WHERE n_tokens >= 8
                  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc')
            -- CAST as in q_pack_sequences: HUGEINT window sum -> float64
            -- through pandas, diverging from Spark's integer hash
            SELECT doc_id, source, n_tokens, n_lines_kept,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // 64 AS BIGINT) AS pack_id
            FROM train
        """,
        "q_minhash_recall": """
            WITH norm AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 200),
            shingled AS (
                SELECT id,
                       unnest(list_distinct(list_filter(
                           list_transform(range(1, greatest(length(t) - 1, 2)),
                                          i -> substr(t, CAST(i AS INT), 3)),
                           g -> length(g) = 3))) AS g
                FROM norm),
            counts AS (
                SELECT id, CAST(count(*) AS BIGINT) AS n_grams
                FROM shingled GROUP BY id),
            pairs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM shingled a JOIN shingled b
                  ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id),
            truth AS (
                SELECT round(common * 1.0
                             / (ga.n_grams + gb.n_grams - common), 6) AS jaccard
                FROM pairs
                JOIN counts ga ON ga.id = id_a
                JOIN counts gb ON gb.id = id_b
                WHERE common * 1.0 / (ga.n_grams + gb.n_grams - common) >= 0.5)
            SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
                   round(avg(jaccard), 6) AS avg_jaccard,
                   TRUE AS recall_ok, TRUE AS high_pairs_ok
            FROM truth
        """,
        "q_simhash_contract": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   TRUE AS complete_ok, TRUE AS hamming_ok,
                   TRUE AS canonical_ok
            FROM documents WHERE doc_id < 200
        """,
        "q_lsh_topk_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   round(avg(CASE WHEN rank = 1 THEN cosine END), 6)
                       AS avg_top1_cosine,
                   TRUE AS recall_ok, TRUE AS bounded_ok
            FROM ranked WHERE rank <= 5
        """,
        "q_ivf_sq8_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   round(avg(CASE WHEN rank = 1 THEN cosine END), 6)
                       AS avg_top1_cosine,
                   TRUE AS recall_ok, TRUE AS bounded_ok
            FROM ranked WHERE rank <= 5
        """,
        "q_ivfpq_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   round(avg(CASE WHEN rank = 1 THEN cosine END), 6)
                       AS avg_top1_cosine,
                   TRUE AS recall_ok, TRUE AS bounded_ok
            FROM ranked WHERE rank <= 5
        """,
        "q_pq_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   round(avg(CASE WHEN rank = 1 THEN cosine END), 6)
                       AS avg_top1_cosine,
                   TRUE AS recall_ok, TRUE AS bounded_ok
            FROM ranked WHERE rank <= 5
        """,
        "q_ivf_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.e, c.e)
                             / (sqrt(list_dot_product(q.e, q.e))
                                * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
                FROM v q JOIN v c ON q.vec_id != c.vec_id
                WHERE q.vec_id < 20),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   round(avg(CASE WHEN rank = 1 THEN cosine END), 6)
                       AS avg_top1_cosine,
                   TRUE AS recall_ok, TRUE AS bounded_ok
            FROM ranked WHERE rank <= 5
        """,
        # q_drought_classes: the q_spi chain + the USDM D0-D4 ladder
        # on the probit seam's INTEGER output — exact comparisons
        "q_drought_classes": f"""
            WITH src AS (
                SELECT user_id % 6 AS cell, day(ts) AS day,
                       max(value) AS precip
                FROM events GROUP BY 1, 2),
            q AS (SELECT cell, day, precip AS value,
                         CAST(sign(precip) * floor(abs(precip)
                              * 1000000 + 0.5) AS HUGEINT) AS qx
                  FROM src),
            r AS (SELECT cell, day, value, qx,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY qx, day) AS i,
                         CAST(count(*) OVER (PARTITION BY cell)
                              AS BIGINT) AS n
                  FROM q),
            p AS (SELECT cell, day, value, n,
                         greatest(1, least(999999,
                         {idiv_int('(100 * CAST(i AS HUGEINT) - 44) '
                                   '* 1000000',
                                   '100 * CAST(n AS HUGEINT) + 12')}
                         )) AS pq
                  FROM r),
            sq AS (SELECT cell, day,
                          {_qseam_sql(_SPI_PROBIT)} AS s
                   FROM p)
            SELECT cell, day, CAST(s AS DOUBLE) / 1000000.0 AS spi,
                   CASE WHEN s IS NULL THEN NULL
                        WHEN s <= -2000000 THEN 'D4'
                        WHEN s <= -1600000 THEN 'D3'
                        WHEN s <= -1300000 THEN 'D2'
                        WHEN s <= -800000 THEN 'D1'
                        WHEN s <= -500000 THEN 'D0'
                        ELSE 'none' END AS d_class,
                   CASE WHEN s IS NULL THEN NULL
                        ELSE s <= -500000 END AS in_drought
            FROM sq
        """,
        # q_dedup_keep_best: struct-max pick mirrored as a
        # (quality desc, id asc) window pick
        "q_dedup_keep_best": """
            WITH k AS (
                SELECT md5(lower(regexp_replace(trim(text), '\\s+',
                                                ' ', 'g'))) AS dup_key,
                       doc_id AS id,
                       CAST(sign(CAST(n_chars AS DOUBLE))
                            * floor(abs(CAST(n_chars AS DOUBLE))
                                    * 1000000 + 0.5) AS BIGINT) AS qq
                FROM documents),
            r AS (SELECT dup_key, id, qq,
                         row_number() OVER (PARTITION BY dup_key
                                            ORDER BY qq DESC, id ASC)
                             AS rn,
                         CAST(count(*) OVER (PARTITION BY dup_key)
                              AS BIGINT) AS n_copies
                  FROM k)
            SELECT dup_key, id AS rep_id,
                   CAST(qq AS DOUBLE) / 1000000.0 AS rep_quality,
                   n_copies
            FROM r WHERE rn = 1
        """,
        # q_alert_triggers: exceedance probabilities cut in micro
        # space, gaps-and-islands runs (lag + running sum), the
        # persistence filter — mirrored verbatim
        "q_alert_triggers": f"""
            WITH probs AS (
                SELECT user_id % 6 AS cell, day(CAST(ts AS DATE))
                           AS lead,
                       avg(CASE WHEN value > 80 THEN 1 ELSE 0 END)
                           AS p
                FROM events GROUP BY 1, 2),
            exc AS (SELECT cell, CAST(lead AS BIGINT) AS o,
                           CAST(sign(p) * floor(abs(p) * 1000000
                                + 0.5) AS BIGINT) AS qp
                    FROM probs
                    WHERE CAST(sign(p) * floor(abs(p) * 1000000
                               + 0.5) AS BIGINT) >= 200000),
            g AS (SELECT cell, o, qp,
                         CASE WHEN o - lag(o) OVER (PARTITION BY cell
                                                    ORDER BY o) > 1
                              THEN 1 ELSE 0 END AS new_run
                  FROM exc),
            r AS (SELECT cell, o, qp,
                         sum(new_run) OVER (PARTITION BY cell
                                            ORDER BY o
                                            ROWS UNBOUNDED PRECEDING)
                             AS run
                  FROM g)
            SELECT cell, CAST(run AS BIGINT) AS run,
                   min(o) AS start_o, max(o) AS end_o,
                   CAST(count(*) AS BIGINT) AS n_leads,
                   CAST(max(qp) AS DOUBLE) / 1000000.0 AS max_p
            FROM r GROUP BY cell, run
            HAVING count(*) >= 3
        """,
        # q_soft_dedup: digest counts joined back, weight the exact
        # half-up integer ratio 1e6/n
        "q_soft_dedup": f"""
            WITH k AS (
                SELECT doc_id AS id,
                       md5(lower(regexp_replace(trim(text), '\\s+',
                                                ' ', 'g'))) AS dk
                FROM documents),
            c AS (SELECT dk, CAST(count(*) AS BIGINT) AS n_copies
                  FROM k GROUP BY dk)
            SELECT k.id, c.n_copies,
                   CAST({idiv_int('CAST(1000000 AS HUGEINT)',
                                  'CAST(n_copies AS HUGEINT)')}
                        AS DOUBLE) / 1000000.0 AS weight
            FROM k JOIN c ON k.dk = c.dk
        """,
        # q_fdc: descending Weibull ranks over the shared daily
        # hydrograph, exceed_p as the exact integer ratio i*1e6/(n+1)
        "q_fdc": f"""
            WITH daily AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS day,
                       max(value) AS inflow
                FROM events GROUP BY 1, 2),
            r AS (SELECT cell, inflow AS value,
                         row_number() OVER (PARTITION BY cell
                                            ORDER BY inflow DESC)
                             AS rank,
                         CAST(count(*) OVER (PARTITION BY cell)
                              AS BIGINT) AS n
                  FROM daily)
            SELECT cell, CAST(rank AS BIGINT) AS rank, value, n,
                   CAST({idiv_int('CAST(rank AS HUGEINT) * 1000000',
                                  'CAST(n AS HUGEINT) + 1')}
                        AS DOUBLE) / 1000000.0 AS exceed_p
            FROM r
        """,
        # q_flow_percentile_class: mid-rank percentile of each
        # current value on the historical empirical CDF (micro-space
        # comparisons), seven-class WaterWatch when-ladder verbatim
        "q_flow_percentile_class": f"""
            WITH daily AS (
                SELECT user_id % 5 AS cell,
                       date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS day,
                       max(value) AS inflow
                FROM events GROUP BY 1, 2),
            cur AS (SELECT DISTINCT cell, inflow AS value,
                           CAST(sign(inflow) * floor(abs(inflow)
                                * 1000000 + 0.5) AS HUGEINT) AS qc
                    FROM daily
                    WHERE day >= 25 AND inflow IS NOT NULL),
            hist AS (SELECT cell,
                            CAST(sign(inflow) * floor(abs(inflow)
                                 * 1000000 + 0.5) AS HUGEINT) AS qh
                     FROM daily
                     WHERE day < 25 AND inflow IS NOT NULL),
            c AS (SELECT cur.cell, cur.value, cur.qc,
                         CAST(count(*) AS BIGINT) AS n_hist,
                         CAST(sum(CASE WHEN qh < qc THEN 1 ELSE 0
                                  END) AS BIGINT) AS lt,
                         CAST(sum(CASE WHEN qh = qc THEN 1 ELSE 0
                                  END) AS BIGINT) AS eq
                  FROM cur JOIN hist ON cur.cell = hist.cell
                  GROUP BY 1, 2, 3),
            p AS (SELECT cell, value, n_hist, lt, eq,
                         {idiv_int('(2 * CAST(lt AS HUGEINT) + eq)'
                                   ' * 1000000',
                                   '2 * CAST(n_hist AS HUGEINT)')}
                             AS pq
                  FROM c)
            SELECT cell, value, n_hist,
                   CAST(pq AS DOUBLE) / 1000000.0 AS pct,
                   CASE WHEN lt = 0 AND eq = 0 THEN 'record low'
                        WHEN lt = n_hist THEN 'record high'
                        WHEN pq < 100000 THEN 'much below normal'
                        WHEN pq < 250000 THEN 'below normal'
                        WHEN pq <= 750000 THEN 'normal'
                        WHEN pq <= 900000 THEN 'above normal'
                        ELSE 'much above normal' END AS condition
            FROM p
        """,
        # q_ivf_incremental: the SQL side states the append contract
        # (build(A)+append(B) == assign(A∪B) under frozen centroids —
        # zero mismatches by construction); the Spark side EARNS it
        # via bidirectional exceptAll over both the lists relations
        # and the probe results
        "q_ivf_incremental": """
            SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                   CAST(0 AS BIGINT) AS assign_mismatch,
                   CAST(0 AS BIGINT) AS probe_mismatch
            FROM embeddings
        """,
        # q_ivf_drift: integer-closed contract of the drift/imbalance
        # report (sizes sum to corpus, <= nlist lists, drift cosines
        # in [-1, 1], strictly positive imbalance)
        "q_ivf_drift": """
            SELECT CAST(count(*) AS BIGINT) AS n_total,
                   CAST(1 AS BIGINT) AS lists_le_nlist,
                   CAST(0 AS BIGINT) AS oob_drift,
                   CAST(0 AS BIGINT) AS nonpos_imbalance
            FROM embeddings
        """,
        "q_embedding_dedup_lsh_recall": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            exact AS (
                SELECT round(list_dot_product(a.e, b.e)
                             / (sqrt(list_dot_product(a.e, a.e))
                                * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
                FROM v a JOIN v b ON a.vec_id < b.vec_id
                WHERE round(list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35)
            SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
                   round(avg(cosine), 6) AS avg_exact_cosine,
                   TRUE AS subset_ok, TRUE AS recall_ok, TRUE AS nonempty_ok
            FROM exact
        """,
    }
    # the indexed BM25 path must reproduce the on-the-fly path exactly —
    # ONE oracle definition for both gates (no drift possible)
    d["q_bm25_indexed"] = d["q_bm25_topk"]
    # PRF: both passes + the in-SQL expansion selection from the SAME
    # scoring chain definition
    d["q_bm25_prf"] = f"""
        WITH {_bm25_chain('b_', 'term IN ' + _BM25_TERMS)},
        feedback AS (
            SELECT doc_id FROM b_agg
            ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
        fb_tf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS fb_tf
            FROM b_terms t SEMI JOIN feedback f ON t.id = f.doc_id
            WHERE term <> '' AND term NOT IN {_BM25_TERMS}
            GROUP BY term),
        docfreq AS (
            SELECT term, count(DISTINCT id) AS df
            FROM b_terms WHERE term <> '' GROUP BY term),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        exp AS (
            SELECT f.term
            FROM fb_tf f JOIN docfreq d2 USING (term), nd
            ORDER BY round(f.fb_tf * (ln((n + 1) * 1.0 / (d2.df + 1)) + 1),
                           6) DESC, f.term ASC
            LIMIT 5),
        qset AS (
            SELECT unnest({_BM25_TERMS_ARRAY}) AS term
            UNION SELECT term FROM exp),
        {_bm25_chain('x_', 'term IN (SELECT term FROM qset)')}
        SELECT doc_id, n_hit_terms, bm25
        FROM x_agg
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 10
    """

    # q_fd_discovery: one grouped multi-countDistinct subquery per
    # determinant, 3 rows each — generated, not hand-unrolled, but the
    # SQL is static given the fixed column list.
    _fd_cols = ["o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority"]
    _fd_parts = []
    for _a in _fd_cols:
        _others = [b for b in _fd_cols if b != _a]
        _nds = ", ".join(f"count(DISTINCT {b}) AS nd_{b}" for b in _others)
        _grp = (f"(SELECT {_a} AS a, {_nds} FROM orders "
                f"GROUP BY {_a})")
        for _b in _others:
            _fd_parts.append(f"""
            SELECT '{_a}' AS determinant, '{_b}' AS dependent,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(nd_{_b} - 1) AS BIGINT) AS n_violations,
                   (max(nd_{_b}) = 1) AS holds
            FROM {_grp}""")
    d["q_fd_discovery"] = "\nUNION ALL\n".join(_fd_parts)

    # q_oof_encode: the md5 fold assignment, (cat, fold) integer sums,
    # window totals over the tiny cat×fold relation, identical
    # leave-one-fold-out division.
    d["q_oof_encode"] = """
        WITH rows_ AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(CAST(('0x' || substr(md5('fold:'
                        || CAST(o_orderkey AS VARCHAR)), 1, 13))
                        AS BIGINT) % 5 AS INT) AS fold,
                   CAST(round(o_totalprice * 1000000) AS BIGINT) AS y
            FROM orders),
        cf AS (SELECT o_orderpriority, fold,
                      CAST(count(y) AS BIGINT) AS n_cf,
                      CAST(sum(y) AS BIGINT) AS s_cf
               FROM rows_ GROUP BY o_orderpriority, fold),
        tot AS (SELECT o_orderpriority, fold, n_cf, s_cf,
                       CAST(sum(n_cf) OVER (PARTITION BY o_orderpriority)
                            AS BIGINT) AS n_c,
                       CAST(sum(s_cf) OVER (PARTITION BY o_orderpriority)
                            AS BIGINT) AS s_c
                FROM cf),
        enc AS (SELECT o_orderpriority, fold,
                       CASE WHEN n_c - n_cf > 0
                            THEN (s_c - s_cf) / (n_c - n_cf) / 1000000
                       END AS oof_enc
                FROM tot)
        SELECT r.o_orderkey, r.o_orderpriority, r.fold, e.oof_enc
        FROM rows_ r
        LEFT JOIN enc e ON r.o_orderpriority = e.o_orderpriority
                       AND r.fold = e.fold
    """

    # q_stream_psi: stream/batch parity — the oracle is the batch PSI
    # SQL verbatim (the bm25_indexed shared-oracle discipline).
    # (assigned after the dict literal: d["q_stream_psi"] = d["q_psi"])

    # q_conformal: the corrected level ceil((n+1)(1-α))/n and Spark's
    # percentile interpolation form lo·(hi−pos)+hi·(pos−lo) restated by
    # hand over a sorted-rank relation (quantile_cont cannot take a
    # computed level parameter).
    d["q_conformal"] = """
        WITH ev AS (
            SELECT event_id, user_id, value,
                   0.5 * value + 25.0 AS yhat
            FROM events),
        res AS (
            SELECT CAST(abs(CAST(round((value - yhat) * 1000000)
                                 AS BIGINT)) AS DOUBLE) / 1000000 AS r
            FROM ev WHERE user_id % 2 = 0),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM res),
        lvl AS (SELECT least(1.0,
                             CAST(ceil((n + 1) * (1.0 - 0.1)) AS BIGINT)
                             / CAST(n AS DOUBLE)) AS l,
                       n
                FROM nn),
        srt AS (SELECT r, row_number() OVER (ORDER BY r) - 1 AS k
                FROM res),
        pos AS (SELECT l * (n - 1) AS p FROM lvl),
        q AS (SELECT CASE WHEN floor(p.p) = ceil(p.p) THEN lo.r
                          ELSE lo.r * (ceil(p.p) - p.p)
                               + hi.r * (p.p - floor(p.p)) END AS qv
              FROM pos p
              JOIN srt lo ON lo.k = CAST(floor(p.p) AS BIGINT)
              JOIN srt hi ON hi.k = CAST(ceil(p.p) AS BIGINT))
        SELECT e.event_id, e.value, e.yhat, q.qv AS conformal_q,
               e.yhat - q.qv AS conformal_lo,
               e.yhat + q.qv AS conformal_hi
        FROM ev e, q WHERE e.user_id % 2 = 1
    """

    # q_psi: reference-defined quantile_cont bins, the same Laplace
    # shares and micro-rounded term tree.
    d["q_psi"] = """
        WITH ref AS (SELECT value AS v FROM events
                     WHERE event_type <> 'purchase' AND value IS NOT NULL),
        cur AS (SELECT value AS v FROM events
                WHERE event_type = 'purchase' AND value IS NOT NULL),
        b AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6,
                                       0.7, 0.8, 0.9]) AS bs FROM ref),
        rc AS (SELECT CAST(1 + len(list_filter(b.bs, t -> r.v > t))
                           AS INT) AS bucket
               FROM ref r, b),
        cc AS (SELECT CAST(1 + len(list_filter(b.bs, t -> c.v > t))
                           AS INT) AS bucket
               FROM cur c, b),
        refc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_ref
                 FROM rc GROUP BY bucket),
        curc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_cur
                 FROM cc GROUP BY bucket),
        j AS (SELECT coalesce(refc.bucket, curc.bucket) AS bucket,
                     coalesce(n_ref, 0) AS n_ref,
                     coalesce(n_cur, 0) AS n_cur
              FROM refc FULL OUTER JOIN curc
                ON refc.bucket = curc.bucket),
        t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                     CAST(sum(n_cur) AS BIGINT) AS tc,
                     CAST(count(*) AS BIGINT) AS k
              FROM j)
        SELECT j.bucket, j.n_ref, j.n_cur,
               CAST(round(
                   (CAST(j.n_cur + 1 AS DOUBLE) / CAST(t.tc + t.k
                                                       AS DOUBLE)
                    - CAST(j.n_ref + 1 AS DOUBLE) / CAST(t.tr + t.k
                                                         AS DOUBLE))
                   * ln((CAST(j.n_cur + 1 AS DOUBLE)
                         / CAST(t.tc + t.k AS DOUBLE))
                        / (CAST(j.n_ref + 1 AS DOUBLE)
                           / CAST(t.tr + t.k AS DOUBLE)))
                   * 1000000) AS BIGINT) AS psi_term_micro
        FROM j, t
    """

    # q_unigram_vocab / q_unigram_encode: shared seed-vocab CTE chain;
    # the encode oracle brute-forces every boundary mask (bit n-1-j =
    # boundary after char j, so integer-min tiebreak == the DP's
    # greedy-longest-piece rule) and keeps masks whose every piece is
    # in-vocab.
    _uni_vocab_ctes = """
        toks AS (
            SELECT list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS l
            FROM documents),
        words AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(l) AS word FROM toks) GROUP BY word),
        subs AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS freq
            FROM (
                SELECT wd.freq,
                       unnest(flatten(
                           [[substr(wd.word, i, L)
                             for L in range(1,
                                 least(4, length(wd.word) - i + 1) + 1)]
                            for i in range(1, length(wd.word) + 1)]))
                           AS piece
                FROM words wd)
            GROUP BY piece),
        chars AS (SELECT piece, freq FROM subs WHERE length(piece) = 1),
        multi AS (SELECT piece, freq FROM subs WHERE length(piece) >= 2
                  ORDER BY freq DESC, piece ASC LIMIT 64),
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM chars),
        vocab AS (
            SELECT piece, freq,
                   CAST(round(-ln(freq / CAST(t AS DOUBLE)) * 1000000)
                        AS BIGINT) AS cost_micro
            FROM (SELECT * FROM chars UNION ALL SELECT * FROM multi), tot)
    """
    d["q_unigram_vocab"] = f"""
        WITH {_uni_vocab_ctes}
        SELECT piece, freq, cost_micro FROM vocab
    """
    d["q_unigram_encode"] = f"""
        WITH {_uni_vocab_ctes},
        masks AS (
            -- the 2048-mask enumeration covers n-1 <= 11 boundary bits:
            -- gate at length 12 (viterbi_segment's max_word_len) so a
            -- longer word can never get a silently-incomplete optimum
            SELECT wd.word, m.m AS mask, length(wd.word) AS n
            FROM words wd, generate_series(0, 2047) m(m)
            WHERE length(wd.word) <= 12
              AND (m.m < (1 << (length(wd.word) - 1))
                   OR (length(wd.word) = 1 AND m.m = 0))),
        segs AS (
            SELECT word, mask, n,
                   [substr(word, b[k] + 1, b[k + 1] - b[k])
                    for k in range(1, len(b))] AS ps
            FROM (
                SELECT word, mask, n,
                       list_prepend(0, list_concat(
                           [j for j in range(1, n)
                            if ((mask >> (n - 1 - j)) & 1) = 1],
                           [n])) AS b
                FROM masks)),
        pc AS (
            SELECT s.word, s.mask,
                   CAST(count(*) AS BIGINT) AS np,
                   CAST(count(v.piece) AS BIGINT) AS nv,
                   CAST(sum(v.cost_micro) AS BIGINT) AS cost
            FROM (SELECT word, mask, unnest(ps) AS piece FROM segs) s
            LEFT JOIN vocab v ON s.piece = v.piece
            GROUP BY s.word, s.mask),
        best AS (
            SELECT word, mask, cost,
                   row_number() OVER (PARTITION BY word
                       ORDER BY cost ASC, mask ASC) AS r
            FROM pc WHERE np = nv)
        SELECT b.word, CAST(len(g.ps) AS INT) AS n_pieces,
               b.cost AS total_cost_micro,
               array_to_string(g.ps, ' ') AS pieces_str
        FROM best b JOIN segs g ON b.word = g.word AND b.mask = g.mask
        WHERE b.r = 1
        UNION ALL
        -- words past max_word_len: viterbi_segment's segment-or-flag
        -- passthrough (NULL pieces / NULL cost; concat_ws of a NULL
        -- array is '' on the Spark side)
        SELECT word, CAST(NULL AS INT) AS n_pieces,
               CAST(NULL AS BIGINT) AS total_cost_micro,
               '' AS pieces_str
        FROM words WHERE length(word) > 12
    """

    # q_unigram_em: E-step re-derived by the same mask brute force,
    # M-step recount with the char floor and unused-piece prune.
    d["q_unigram_em"] = f"""
        WITH {_uni_vocab_ctes},
        masks AS (
            -- the 2048-mask enumeration covers n-1 <= 11 boundary bits:
            -- gate at length 12 (viterbi_segment's max_word_len) so a
            -- longer word can never get a silently-incomplete optimum
            SELECT wd.word, m.m AS mask, length(wd.word) AS n
            FROM words wd, generate_series(0, 2047) m(m)
            WHERE length(wd.word) <= 12
              AND (m.m < (1 << (length(wd.word) - 1))
                   OR (length(wd.word) = 1 AND m.m = 0))),
        segs AS (
            SELECT word, mask, n,
                   [substr(word, b[k] + 1, b[k + 1] - b[k])
                    for k in range(1, len(b))] AS ps
            FROM (
                SELECT word, mask, n,
                       list_prepend(0, list_concat(
                           [j for j in range(1, n)
                            if ((mask >> (n - 1 - j)) & 1) = 1],
                           [n])) AS b
                FROM masks)),
        pc AS (
            SELECT s.word, s.mask,
                   CAST(count(*) AS BIGINT) AS np,
                   CAST(count(v.piece) AS BIGINT) AS nv,
                   CAST(sum(v.cost_micro) AS BIGINT) AS cost
            FROM (SELECT word, mask, unnest(ps) AS piece FROM segs) s
            LEFT JOIN vocab v ON s.piece = v.piece
            GROUP BY s.word, s.mask),
        best AS (
            SELECT word, mask,
                   row_number() OVER (PARTITION BY word
                       ORDER BY cost ASC, mask ASC) AS r
            FROM pc WHERE np = nv),
        usage AS (
            SELECT u.piece, CAST(sum(w.freq) AS BIGINT) AS used
            FROM (SELECT g.word, unnest(g.ps) AS piece
                  FROM best b
                  JOIN segs g ON b.word = g.word AND b.mask = g.mask
                  WHERE b.r = 1) u
            JOIN words w ON u.word = w.word
            GROUP BY u.piece),
        kept AS (
            SELECT v.piece,
                   CASE WHEN length(v.piece) = 1
                        THEN coalesce(u.used, 0) + 1
                        ELSE u.used END AS cnt
            FROM vocab v LEFT JOIN usage u ON v.piece = u.piece),
        pruned AS (SELECT piece, CAST(cnt AS BIGINT) AS count
                   FROM kept WHERE cnt IS NOT NULL),
        t2 AS (SELECT CAST(sum(count) AS BIGINT) AS t FROM pruned)
        SELECT piece, count,
               CAST(round(-ln(count / CAST(t AS DOUBLE)) * 1000000)
                    AS BIGINT) AS cost_micro
        FROM pruned, t2
    """

    # q_bootstrap_ci: the md5 Poisson(1) ladder regenerated from the
    # same CDF constants; replica sums exact, quantile_cont bit-identity
    # for the CI percentiles.
    from flood_data_spark.operators.experiment import _POISSON1_CDF
    _pois_ladder = " + ".join(
        f"(CASE WHEN u > {c!r} THEN 1 ELSE 0 END)" for c in _POISSON1_CDF)
    d["q_bootstrap_ci"] = f"""
        WITH base AS (
            SELECT event_type, event_id,
                   CAST(round(value * 1000000) AS BIGINT) AS y
            FROM events WHERE value IS NOT NULL),
        rep AS (
            SELECT r.event_type, r.y, b.b,
                   CAST(('0x' || substr(md5('boot:' || b.b || ':'
                        || CAST(r.event_id AS VARCHAR)), 1, 13))
                        AS BIGINT)
                   / CAST(4503599627370496 AS DOUBLE) AS u
            FROM base r, generate_series(0, 31) b(b)),
        wtd AS (
            SELECT event_type, b, y,
                   CAST({_pois_ladder} AS BIGINT) AS w
            FROM rep),
        cells AS (
            SELECT event_type, b,
                   CAST(sum(w * y) AS BIGINT) AS wy,
                   CAST(sum(w) AS BIGINT) AS wn,
                   CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN b = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS y0
            FROM wtd GROUP BY event_type, b),
        reps AS (
            SELECT event_type, n0, y0,
                   CASE WHEN wn > 0
                        THEN CAST(wy AS DOUBLE) / wn / 1000000 END AS m
            FROM cells)
        SELECT event_type, CAST(sum(n0) AS BIGINT) AS n,
               round(CAST(sum(y0) AS DOUBLE) / sum(n0) / 1000000, 6)
                   AS mean,
               round(quantile_cont(m, 0.025), 6) AS ci_lo,
               round(quantile_cont(m, 0.975), 6) AS ci_hi
        FROM reps GROUP BY event_type
    """

    # q_rolling_median: list window + list_sort + the same floor()ed
    # middle-index interpolation, raw doubles.
    d["q_rolling_median"] = """
        WITH ev AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE user_id < 25),
        arrs AS (
            SELECT event_id, user_id, ts, value,
                   list_sort(list(CAST(value AS DOUBLE)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS a
            FROM ev)
        SELECT event_id, user_id, ts, value,
               a[CAST(floor((len(a) + 1) / 2) AS INT)]
               + (a[CAST(floor(len(a) / 2) + 1 AS INT)]
                  - a[CAST(floor((len(a) + 1) / 2) AS INT)]) * 0.5
                   AS rolling_median
        FROM arrs
    """

    # q_agg_merge: the oracle aggregates the UNION from scratch — equality
    # with the Spark side's merged half-states IS the incremental
    # correctness proof.
    d["q_agg_merge"] = """
        WITH s AS (
            SELECT l_returnflag,
                   CAST(count(l_quantity) AS BIGINT) AS n,
                   CAST(sum(CAST(round(l_quantity * 1000000) AS BIGINT))
                        AS BIGINT) AS sum_micro,
                   min(l_quantity) AS min_value,
                   max(l_quantity) AS max_value
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, sum_micro, min_value, max_value,
               CASE WHEN n > 0 THEN CAST(sum_micro AS DOUBLE) / n
                                    / 1000000 END AS mean
        FROM s
    """

    # q_daily_incremental: the oracle computes the ONE correct
    # from-scratch summary straight from lineitem (per-day flagship
    # median -> mergeable state over days) and emits it under both
    # path tags — equality proves the upsert replaced exactly the
    # re-issued day (stale 2x values absent), d0/d1 survived both
    # publishes, and merge(base, increment) == full recompute.
    d["q_daily_incremental"] = """
        WITH fc AS (
            SELECT 'd' || CAST(l_linenumber % 3 AS VARCHAR) AS day,
                   l_partkey AS partkey, l_extendedprice AS dis24
            FROM lineitem),
        det AS (
            SELECT day, partkey,
                   quantile_cont(dis24, 0.50) AS median_dis
            FROM fc GROUP BY day, partkey),
        st AS (
            SELECT partkey,
                   CAST(count(median_dis) AS BIGINT) AS n,
                   CAST(sum(CAST(round(median_dis * 1000000) AS BIGINT))
                        AS BIGINT) AS sum_micro,
                   min(median_dis) AS min_value,
                   max(median_dis) AS max_value
            FROM det GROUP BY partkey)
        SELECT p.path, s.partkey, s.n, s.sum_micro,
               s.min_value, s.max_value,
               round(CASE WHEN s.n > 0 THEN CAST(s.sum_micro AS DOUBLE)
                                            / s.n / 1000000 END, 6)
                   AS mean
        FROM st s
        CROSS JOIN (VALUES ('incremental'), ('recompute')) p(path)
    """

    # q_attribution: the journey windows (running conversion count,
    # per-journey rank/size with (ts, event_id) ties) and both credit
    # rules restated; micro-credits exact HUGEINTs
    d["q_attribution"] = f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS c
            FROM events),
        b AS (SELECT *,
                     COALESCE(sum(c) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS j,
                     sum(c) OVER (PARTITION BY user_id) AS nc
              FROM ev),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY user_id, j
                                        ORDER BY ts, event_id) AS rn,
                     count(*) OVER (PARTITION BY user_id, j) AS k
              FROM b WHERE c = 0 AND j < nc)
        SELECT 'last' AS model, event_type AS channel,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(CASE WHEN rn = k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_credited,
               round(CAST(sum(CASE WHEN rn = k THEN 1000000 ELSE 0 END)
                          AS DOUBLE) / 1000000, 6) AS credit
        FROM r GROUP BY 2
        UNION ALL
        SELECT 'linear', event_type,
               CAST(count(*) AS BIGINT),
               CAST(count(*) AS BIGINT),
               round(CAST(sum({idiv_int('1000000',
                                        'CAST(k AS HUGEINT)')})
                          AS DOUBLE) / 1000000, 6)
        FROM r GROUP BY 2
    """

    # q_jsd: exact-integer mixture ratios inside one double tree per
    # term, signed micro-nat quantization once, integer halving
    d["q_jsd"] = f"""
        WITH tp AS (
            SELECT unnest(list_filter(string_split_regex(
                       lower(trim(text)), '\\s+'), x -> x <> ''))
                   AS term
            FROM documents WHERE doc_id < 400),
        tq AS (
            SELECT unnest(list_filter(string_split_regex(
                       lower(trim(text)), '\\s+'), x -> x <> ''))
                   AS term
            FROM documents WHERE doc_id >= 400 AND doc_id < 800),
        cp AS (SELECT term, CAST(count(*) AS BIGINT) AS cp
               FROM tp GROUP BY 1),
        cq AS (SELECT term, CAST(count(*) AS BIGINT) AS cq
               FROM tq GROUP BY 1),
        j AS (SELECT COALESCE(cp.term, cq.term) AS term,
                     COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
              FROM cp FULL OUTER JOIN cq ON cp.term = cq.term),
        tot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM j),
        x AS (SELECT j.*, tot.np, tot.nq FROM j, tot),
        terms AS (
            SELECT
                CASE WHEN cp > 0 AND np > 0 AND nq > 0 THEN
                    (CAST(cp AS DOUBLE) / CAST(np AS DOUBLE))
                    * ln((2e0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))
                         / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                            + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)))
                ELSE 0e0 END AS t_p,
                CASE WHEN cq > 0 AND np > 0 AND nq > 0 THEN
                    (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))
                    * ln((2e0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))
                         / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                            + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)))
                ELSE 0e0 END AS t_q,
                np, nq
            FROM x),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                       min(np) AS np, min(nq) AS nq,
                       sum(CAST(sign(t_p) * floor(abs(t_p) * 1000000
                                                  + 0.5) AS HUGEINT))
                           AS sp,
                       sum(CAST(sign(t_q) * floor(abs(t_q) * 1000000
                                                  + 0.5) AS HUGEINT))
                           AS sq
                FROM terms)
        SELECT n_terms,
               CASE WHEN np > 0 AND nq > 0 THEN
                   CAST(sp AS DOUBLE) / 1000000 END AS kl_pm,
               CASE WHEN np > 0 AND nq > 0 THEN
                   CAST(sq AS DOUBLE) / 1000000 END AS kl_qm,
               CASE WHEN np > 0 AND nq > 0 THEN
                   CAST({idiv_int('sp + sq', '2')} AS DOUBLE) / 1000000
               END AS jsd
        FROM agg
    """

    # q_wilson: the identical interval seam (z/z^2 embedded as the
    # SAME python reprs the operator uses), lo/hi floor(+0.5) once,
    # p-hat an exact integer ratio
    _wz = repr(1.959964)
    _wz2 = repr(1.959964 ** 2)

    def _wilson_seam(sign: str) -> str:
        return (f"CAST(floor(((x + CAST({_wz2} AS DOUBLE) / 2e0) "
                f"/ (n + CAST({_wz2} AS DOUBLE)) "
                f"{sign} CAST({_wz} AS DOUBLE) * sqrt("
                "x * (n - x) / cast(n as double) "
                f"+ CAST({_wz2} AS DOUBLE) / 4e0) "
                f"/ (n + CAST({_wz2} AS DOUBLE))) "
                "* 1000000e0 + 5e-1) AS BIGINT)")

    d["q_wilson"] = f"""
        WITH g AS (
            SELECT o_orderpriority AS priority,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN o_totalprice > 150000
                            THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM orders GROUP BY 1)
        SELECT priority, n, x,
               CASE WHEN n > 0 THEN
                   CAST({idiv_int('CAST(x AS HUGEINT) * 1000000',
                                  'CAST(n AS HUGEINT)')} AS DOUBLE)
                   / 1000000 END AS p,
               CASE WHEN n > 0 THEN
                   CAST({_wilson_seam('-')} AS DOUBLE) / 1000000
               END AS lo,
               CASE WHEN n > 0 THEN
                   CAST({_wilson_seam('+')} AS DOUBLE) / 1000000
               END AS hi
        FROM g
    """

    # q_spiegelhalter: micro probabilities, exact integer numerator /
    # squared denominator, one sqrt quantized to its integer value,
    # Z an exact integer ratio
    d["q_spiegelhalter"] = f"""
        WITH q AS (
            SELECT l_linenumber AS lead,
                   CAST(sign(l_discount * 10.0)
                        * floor(abs(l_discount * 10.0) * 1000000 + 0.5)
                        AS HUGEINT) AS qp,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS HUGEINT) AS ob
            FROM lineitem),
        g AS (SELECT lead, CAST(count(*) AS BIGINT) AS n,
                     sum((ob * 1000000 - qp) * (1000000 - 2 * qp))
                         AS num,
                     sum(qp * (1000000 - qp) * (1000000 - 2 * qp)
                         * (1000000 - 2 * qp)) AS d2
              FROM q GROUP BY 1),
        s AS (SELECT lead, n, num, d2,
                     CAST(floor(sqrt(CAST(d2 AS DOUBLE)) + 0.5)
                          AS HUGEINT) AS qs
              FROM g)
        SELECT lead, n,
               CASE WHEN d2 > 0 THEN
                   CAST({idiv_int('num * 1000000', 'qs')} AS DOUBLE)
                   / 1000000 END AS z,
               CASE WHEN d2 > 0 THEN
                   abs({idiv_int('num * 1000000', 'qs')}) < 1959964
               END AS well_calibrated
        FROM s
    """

    # q_neyman: per-stratum exact moments, one sqrt per stratum
    # quantized once, exact weight/allocation arithmetic with the
    # N_h cap
    d["q_neyman"] = f"""
        WITH q AS (
            SELECT l_returnflag AS stratum,
                   CAST(sign(l_extendedprice)
                        * floor(abs(l_extendedprice) * 1000000 + 0.5)
                        AS HUGEINT) AS qv
            FROM lineitem),
        m AS (SELECT stratum, CAST(count(*) AS HUGEINT) AS n,
                     sum(qv) AS s1, sum(qv * qv) AS s2
              FROM q GROUP BY 1),
        sq AS (SELECT stratum, n,
                      CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                                 / CAST(n AS DOUBLE) + 0.5) AS HUGEINT)
                          AS sdq
               FROM m),
        w AS (SELECT stratum, n, sdq, n * sdq AS wt FROM sq),
        t AS (SELECT sum(wt) AS tw FROM w)
        SELECT stratum, CAST(n AS BIGINT) AS n_pop,
               CAST(sdq AS DOUBLE) / 1000000 AS sd,
               CASE WHEN tw > 0 THEN
                   CAST(least({idiv_int('10000 * wt', 'tw')}, n)
                        AS BIGINT) END AS alloc
        FROM w, t
    """

    # q_fs_linkage: the whole FS chain restated — pair construction,
    # per-field counts, Laplace m/u, micro-nat weights (rounded once,
    # the WoE form), and the conditional per-pair integer sum
    d["q_fs_linkage"] = """
        WITH pairs AS (
            SELECT a.c_custkey AS id1, b.c_custkey AS id2,
                   CASE WHEN a.c_nationkey = b.c_nationkey
                        THEN 1 ELSE 0 END AS f_same_nation,
                   CASE WHEN a.c_mktsegment = b.c_mktsegment
                        THEN 1 ELSE 0 END AS f_same_segment,
                   CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 1000
                        THEN 1 ELSE 0 END AS f_bal_close,
                   CASE WHEN a.c_custkey % 5 = 0 THEN 1 ELSE 0 END
                       AS match
            FROM customer a JOIN customer b
                 ON b.c_custkey = a.c_custkey + 700),
        melted AS (
            SELECT id1, id2, match, 'same_nation' AS field,
                   f_same_nation AS agree FROM pairs
            UNION ALL
            SELECT id1, id2, match, 'same_segment', f_same_segment
            FROM pairs
            UNION ALL
            SELECT id1, id2, match, 'bal_close', f_bal_close
            FROM pairs),
        w AS (
            SELECT field,
                   CAST(round((ln((CAST(sum(agree * match) AS DOUBLE)
                                   + 0.5)
                                  / (CAST(sum(match) AS DOUBLE) + 1.0))
                               - ln((CAST(sum(agree * (1 - match))
                                          AS DOUBLE) + 0.5)
                                    / (CAST(sum(1 - match) AS DOUBLE)
                                       + 1.0))) * 1000000) AS BIGINT)
                       AS wa,
                   CAST(round((ln(1.0 - (CAST(sum(agree * match)
                                              AS DOUBLE) + 0.5)
                                  / (CAST(sum(match) AS DOUBLE) + 1.0))
                               - ln(1.0 - (CAST(sum(agree * (1 - match))
                                                AS DOUBLE) + 0.5)
                                    / (CAST(sum(1 - match) AS DOUBLE)
                                       + 1.0))) * 1000000) AS BIGINT)
                       AS wd
            FROM melted GROUP BY field)
        SELECT m.id1, m.id2, m.match,
               round(CAST(sum(CASE WHEN m.agree = 1 THEN w.wa
                              ELSE w.wd END) AS DOUBLE) / 1000000, 6)
                   AS score
        FROM melted m JOIN w ON m.field = w.field
        GROUP BY m.id1, m.id2, m.match
    """

    # q_zipf: rank window (count desc, term asc), both micro-nat logs,
    # and the closed-form OLS restated in HUGEINT
    d["q_zipf"] = f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(
                       lower(trim(text)), '\\s+'), x -> x <> ''))
                   AS term
            FROM documents WHERE doc_id < 900),
        cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS f
                FROM toks GROUP BY 1),
        rk AS (SELECT term, f,
                      row_number() OVER (ORDER BY f DESC, term ASC)
                          AS r
               FROM cnt),
        q AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5)
                          AS HUGEINT) AS x,
                     CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5)
                          AS HUGEINT) AS y
              FROM rk WHERE r <= 500),
        m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(x * y) AS sxy
              FROM q),
        s AS (SELECT n, sx, sy,
                     CASE WHEN n * sxx - sx * sx <> 0 THEN
                         {idiv_int('(n * sxy - sx * sy) * 1000000',
                                   'n * sxx - sx * sx')} END AS sq
              FROM m)
        SELECT CAST(n AS BIGINT) AS n_ranks,
               CAST(sq AS DOUBLE) / 1000000 AS slope,
               CAST(CASE WHEN sq IS NOT NULL THEN
                   {idiv_int('sy * 1000000 - sq * sx', 'n * 1000000')}
               END AS DOUBLE) / 1000000 AS intercept
        FROM s
    """

    # q_readability: every count and both integer-ratio assemblies
    # restated (word filter mirrored with list_filter; sentence runs
    # and vowel groups via len(regexp_extract_all))
    d["q_readability"] = f"""
        WITH src AS (
            SELECT doc_id,
                   text || '. Ok!? xy ' || CAST(doc_id % 5 AS VARCHAR)
                        || ' rhythm myth.' AS t
            FROM documents WHERE doc_id < 800),
        cnt AS (
            SELECT doc_id,
                   greatest(len(list_filter(string_split_regex(
                       lower(trim(t)), '\\s+'), x -> x <> '')), 1)
                       AS w,
                   greatest(len(regexp_extract_all(t, '[.!?]+')), 1)
                       AS s,
                   len(regexp_extract_all(lower(t), '[aeiouy]+')) AS vg
            FROM src),
        base AS (
            SELECT doc_id, CAST(w AS BIGINT) AS n_words,
                   CAST(s AS BIGINT) AS n_sentences,
                   CAST(greatest(vg, w) AS BIGINT) AS n_syllables
            FROM cnt)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST(206835000
                    - {idiv_int('1015000 * CAST(n_words AS HUGEINT)',
                                'CAST(n_sentences AS HUGEINT)')}
                    - {idiv_int('84600000 * CAST(n_syllables AS HUGEINT)',
                                'CAST(n_words AS HUGEINT)')}
                    AS DOUBLE) / 1000000 AS flesch_ease,
               CAST({idiv_int('390000 * CAST(n_words AS HUGEINT)',
                              'CAST(n_sentences AS HUGEINT)')}
                    + {idiv_int('11800000 * CAST(n_syllables AS HUGEINT)',
                                'CAST(n_words AS HUGEINT)')}
                    - 15590000 AS DOUBLE) / 1000000 AS fk_grade
        FROM base
    """

    # q_ratio_ci: the delta-method chain restated — exact HUGEINT
    # moments and centered quadratics, the identical double seam for
    # the SE (decimal->double casts are correctly rounded in both
    # engines), floor(+0.5) once, exact integer ratio and margin
    d["q_ratio_ci"] = f"""
        WITH src AS (
            SELECT l_returnflag AS flag,
                   CAST(sign(l_extendedprice / 1000.0)
                        * floor(abs(l_extendedprice / 1000.0)
                                * 1000000 + 0.5) AS HUGEINT) AS qx,
                   CAST(sign(l_quantity)
                        * floor(abs(l_quantity) * 1000000 + 0.5)
                        AS HUGEINT) AS qy
            FROM lineitem),
        mo AS (SELECT flag, CAST(count(*) AS HUGEINT) AS n,
                      sum(qx) AS sx, sum(qy) AS sy,
                      sum(qx * qx) AS sxx, sum(qy * qy) AS syy,
                      sum(qx * qy) AS sxy
               FROM src GROUP BY 1),
        ab AS (SELECT flag, n, sx, sy,
                      n * sxx - sx * sx AS a,
                      n * sxy - sx * sy AS b,
                      n * syy - sy * sy AS c,
                      sy * sy AS sy2
               FROM mo),
        se AS (SELECT flag, n, sx, sy,
                      CASE WHEN n >= 2 AND sy <> 0 THEN
                          CAST(floor(sqrt(greatest(
                              cast(a as double) * cast(sy2 as double)
                              - 2e0 * cast(sx as double)
                                * cast(sy as double)
                                * cast(b as double)
                              + cast(sx as double) * cast(sx as double)
                                * cast(c as double), 0e0))
                            / (sqrt(cast(n as double))
                               * cast(sy2 as double))
                            * 1000000e0 + 5e-1) AS HUGEINT) END AS seq,
                      CASE WHEN sy <> 0 THEN
                          {idiv_int('sx * 1000000', 'sy')} END AS rq
               FROM ab),
        fin AS (SELECT flag, n, seq, rq,
                       {idiv_int('1959964 * seq', '1000000')} AS mg
                FROM se)
        SELECT flag, CAST(n AS BIGINT) AS n,
               CAST(rq AS DOUBLE) / 1000000 AS ratio,
               CAST(seq AS DOUBLE) / 1000000 AS se,
               CAST(rq - mg AS DOUBLE) / 1000000 AS lo,
               CAST(rq + mg AS DOUBLE) / 1000000 AS hi
        FROM fin
    """

    # q_seeps: the 3-category ladder, the p1 division, every matrix
    # entry's double tree and its per-cell floor(+0.5) quantization,
    # and the integer-space finish — all restated
    d["q_seeps"] = f"""
        WITH cat AS (
            SELECT l_returnflag AS flag,
                   CASE WHEN CAST((l_partkey % 50) + 0.5 AS DOUBLE)
                             < 17.0 THEN 1
                        WHEN CAST((l_partkey % 50) + 0.5 AS DOUBLE)
                             < 39.0 THEN 2
                        ELSE 3 END AS fc,
                   CASE WHEN CAST(l_quantity AS DOUBLE) < 17.0 THEN 1
                        WHEN CAST(l_quantity AS DOUBLE) < 39.0 THEN 2
                        ELSE 3 END AS oc
            FROM lineitem),
        cells AS (SELECT flag, fc, oc, CAST(count(*) AS BIGINT) AS c
                  FROM cat GROUP BY 1, 2, 3),
        tot AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN oc = 1 THEN c ELSE 0 END)
                            AS BIGINT) AS dry
                FROM cells GROUP BY 1),
        e AS (SELECT cells.flag, c, n, dry, fc, oc,
                     dry / CAST(n AS DOUBLE) AS p1
              FROM cells JOIN tot ON cells.flag = tot.flag),
        em AS (SELECT flag, c, n, dry,
                      CAST(floor((CASE
                          WHEN fc = 1 AND oc = 2
                              THEN 0.5 * (1.0 / (1.0 - p1))
                          WHEN fc = 1 AND oc = 3
                              THEN 0.5 * (4.0 / (1.0 - p1))
                          WHEN fc = 2 AND oc = 1
                              THEN 0.5 * (1.0 / p1)
                          WHEN fc = 2 AND oc = 3
                              THEN 0.5 * (3.0 / (1.0 - p1))
                          WHEN fc = 3 AND oc = 1
                              THEN 0.5 * (1.0 / p1
                                          + 3.0 / (2.0 + p1))
                          WHEN fc = 3 AND oc = 2
                              THEN 0.5 * (3.0 / (2.0 + p1))
                          ELSE 0.0 END) * 1000000 + 0.5) AS BIGINT)
                          AS emv
               FROM e),
        agg AS (SELECT flag, min(n) AS n, min(dry) AS dry,
                       sum(CAST(c AS HUGEINT) * emv) AS s
                FROM em GROUP BY 1)
        SELECT flag, n,
               CASE WHEN dry > 0 AND dry < n THEN
                   round({idiv_half_up('s', 'CAST(n AS HUGEINT)',
                                       1000000)}, 6)
               END AS seeps,
               CASE WHEN dry > 0 AND dry < n THEN
                   round(1.0 - {idiv_half_up('s',
                                             'CAST(n AS HUGEINT)',
                                             1000000)}, 6)
               END AS skill
        FROM agg
    """

    # q_benford: expected probabilities embedded as the same Python
    # float reprs the Spark ladder carries; chi terms mirror the
    # (n - t·p)²/(t·p) double tree, micro-rounded once.
    import math as _math
    _ben_p = {dd: repr(_math.log10(1 + 1 / dd)) for dd in range(1, 10)}
    _ben_case = " ".join(f"WHEN digit = {dd} THEN {_ben_p[dd]}"
                         for dd in range(1, 10))
    d["q_benford"] = f"""
        WITH base AS (
            SELECT CAST(substr(CAST(CAST(round(abs(CAST(o_totalprice
                       AS DOUBLE)) * 1000000) AS BIGINT) AS VARCHAR),
                       1, 1) AS INT) AS digit
            FROM orders WHERE o_totalprice IS NOT NULL
              AND o_totalprice > 0),
        cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
                FROM base WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
        ex AS (SELECT digit, n, t,
                      CAST((CASE {_ben_case} ELSE 0.0 END) AS DOUBLE)
                          AS p
               FROM cnt, tot)
        SELECT digit, n,
               CAST(round(p * 1000000) AS BIGINT) AS expected_micro,
               CAST(round((CAST(n AS DOUBLE) - t * p)
                          * (CAST(n AS DOUBLE) - t * p)
                          / (t * p) * 1000000) AS BIGINT)
                   AS chi2_term_micro
        FROM ex
    """
    # q_gini: identical rank formula; row_number tie order differs
    # across engines but i·x is invariant under permuting equal values.
    # G·1e6 = (2·Σix − (n+1)·Σx)·1e6 / (n·Σx) rounded in INTEGER space
    # (HUGEINT //), mirroring stats.gini_concentration's _idiv_half_up
    # — the old round(double, 6) after subtracting two derived doubles
    # was the q_covariance hazard class on a rational lattice.
    d["q_gini"] = f"""
        WITH base AS (
            SELECT l_returnflag,
                   CAST(round(l_quantity * 1000000) AS BIGINT) AS x
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_quantity > 0),
        ranked AS (
            SELECT l_returnflag, x,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY x ASC) AS i
            FROM base),
        agg AS (
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) AS HUGEINT) AS nh,
                   CAST(sum(x) AS HUGEINT) AS sx,
                   CAST(sum(i * x) AS HUGEINT) AS six
            FROM ranked GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               {idiv_half_up('(2 * six - (nh + 1) * sx) * 1000000',
                             'nh * sx', 1000000)} AS gini
        FROM agg
    """

    # q_snm_pairs: sort ranks within the same 1-char prefix partitions,
    # rank-distance self-join <= window, identical band + bounded DP.
    d["q_snm_pairs"] = f"""
        WITH g AS (
            SELECT {fuzzy_name} AS name,
                   min(p_partkey) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM part GROUP BY 1),
        r AS (
            SELECT name, rep_id, n_rows, substr(name, 1, 1) AS pk,
                   row_number() OVER (PARTITION BY substr(name, 1, 1)
                                      ORDER BY name ASC) AS rk
            FROM g)
        SELECT a.name AS name_a, c.name AS name_b,
               CAST(a.rep_id AS BIGINT) AS id_a,
               CAST(c.rep_id AS BIGINT) AS id_b,
               a.n_rows AS n_a, c.n_rows AS n_b,
               CAST(levenshtein(a.name, c.name) AS INT) AS dist
        FROM r a JOIN r c ON a.pk = c.pk AND c.rk - a.rk BETWEEN 1 AND 4
        WHERE abs(length(a.name) - length(c.name)) <= 3
          AND levenshtein(a.name, c.name) <= 3
    """

    # q_impute: identical mask, per-type exact median (quantile_cont
    # bit-identity), left-join fill.
    d["q_impute"] = """
        WITH ev AS (
            SELECT event_id, event_type,
                   CASE WHEN value > 95 THEN NULL ELSE value END AS v
            FROM events WHERE user_id < 150),
        st AS (SELECT event_type, quantile_cont(v, 0.5) AS f
               FROM ev WHERE v IS NOT NULL GROUP BY event_type)
        SELECT e.event_id, e.event_type,
               (e.v IS NULL AND st.f IS NOT NULL) AS was_imputed,
               coalesce(e.v, st.f) AS value_filled
        FROM ev e LEFT JOIN st ON e.event_type = st.event_type
    """

    # q_holt: the 2-state fold as a pair-list reduce — elements lifted
    # to [x, 0] so DuckDB 1.0's same-type list_reduce carries the
    # [level, trend] accumulator; operation order mirrors with_holt's
    # struct fold exactly, doubles compared RAW.
    d["q_holt"] = """
        WITH ev AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE user_id < 25),
        arrs AS (
            SELECT event_id, user_id, ts, value,
                   list(CAST(value AS DOUBLE)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
            FROM ev),
        folded AS (
            SELECT event_id, user_id, ts, value, arr,
                   CASE WHEN len(arr) >= 2 THEN list_reduce(
                       list_prepend([arr[1], arr[2] - arr[1]],
                                    [[e, CAST(0 AS DOUBLE)]
                                     for e in arr[3:]]),
                       (acc, x) -> [
                           0.5 * x[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
                           0.25 * ((0.5 * x[1]
                                    + (1.0 - 0.5) * (acc[1] + acc[2]))
                                   - acc[1])
                           + (1.0 - 0.25) * acc[2]])
                   END AS st
            FROM arrs)
        SELECT event_id, user_id, ts, value,
               CASE WHEN len(arr) >= 2 THEN st[1] ELSE arr[1] END
                   AS holt_level,
               CASE WHEN len(arr) >= 2 THEN st[2]
                    ELSE CAST(0 AS DOUBLE) END AS holt_trend,
               (CASE WHEN len(arr) >= 2 THEN st[1] ELSE arr[1] END)
               + (CASE WHEN len(arr) >= 2 THEN st[2]
                       ELSE CAST(0 AS DOUBLE) END) AS holt_forecast
        FROM folded
    """

    # q_point_in_polygon: one CASE term per polygon edge generated from
    # the SAME vertex list the Spark ladder is built from — literal
    # double arithmetic, mirrored expression by expression.
    _pip_terms = []
    for _i, (_x1, _y1) in enumerate(_PIP_POLY):
        _x2, _y2 = _PIP_POLY[(_i + 1) % len(_PIP_POLY)]
        _pip_terms.append(
            f"CASE WHEN (({_y1!r} > latitude) != ({_y2!r} > latitude)) "
            f"AND (longitude < ({_x2!r} - {_x1!r}) "
            f"* (latitude - {_y1!r}) / ({_y2!r} - {_y1!r}) + {_x1!r}) "
            f"THEN 1 ELSE 0 END")
    d["q_point_in_polygon"] = f"""
        WITH cells AS (
            SELECT p_partkey AS partkey,
                   round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                   round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT)
                                  % 200) * 0.05, 3) AS longitude
            FROM part)
        SELECT partkey, latitude, longitude,
               CAST({' + '.join(_pip_terms)} AS INT) AS n_crossings,
               (({' + '.join(_pip_terms)}) % 2 = 1) AS inside
        FROM cells
    """

    # q_textrank: all 3 power iterations unrolled — each round repeats
    # the identical (contribution, damping-update) CTE pair; generated
    # because the rounds are verbatim-identical, static given n_iter=3.
    _tr_rounds = []
    for _i in range(1, 4):
        _prev = f"r{_i - 1}"
        _tr_rounds.append(f"""
            c{_i} AS (
                SELECT a.id, a.v AS u,
                       CAST(sum(CAST(round(r.r * a.w / n.wdeg)
                                     AS BIGINT)) AS BIGINT) AS s
                FROM adj a
                JOIN {_prev} r ON a.id = r.id AND a.u = r.u
                JOIN nodes n ON a.id = n.id AND a.u = n.u
                GROUP BY a.id, a.v),
            r{_i} AS (
                SELECT n.id, n.u,
                       CAST(round((1.0 - 0.85) * 1000000.0
                                  + 0.85 * coalesce(c.s, 0)) AS BIGINT)
                           AS r
                FROM nodes n
                LEFT JOIN c{_i} c ON n.id = c.id AND n.u = c.u)""")
    d["q_textrank"] = f"""
        WITH toks AS (
            SELECT doc_id AS id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '\\s+'),
                               x -> x <> '') AS l
            FROM documents WHERE doc_id < 120),
        prs AS (
            SELECT id, unnest(
                [[least(l[i], l[i+1]), greatest(l[i], l[i+1])]
                 for i in range(1, len(l))]
                || [[least(l[i], l[i+2]), greatest(l[i], l[i+2])]
                    for i in range(1, len(l) - 1)]) AS p
            FROM toks),
        e AS (SELECT id, p[1] AS a, p[2] AS b,
                     CAST(count(*) AS BIGINT) AS w
              FROM prs WHERE p[1] <> p[2] GROUP BY id, p[1], p[2]),
        adj AS (SELECT id, a AS u, b AS v, w FROM e
                UNION ALL SELECT id, b, a, w FROM e),
        nodes AS (SELECT id, u, CAST(sum(w) AS BIGINT) AS wdeg
                  FROM adj GROUP BY id, u),
        r0 AS (SELECT id, u, CAST(1000000 AS BIGINT) AS r FROM nodes),
        {','.join(_tr_rounds)},
        rk AS (SELECT id AS doc_id, u AS keyword, r AS rank_mu,
                      row_number() OVER (PARTITION BY id
                          ORDER BY r DESC, u ASC) AS pos
               FROM r3)
        SELECT doc_id, keyword, rank_mu, CAST(pos AS INT) AS pos
        FROM rk WHERE pos <= 5
    """
    d["q_stream_psi"] = d["q_psi"]
    # the streamed Brier twin materializes the same bin cells and runs
    # the same integer-space finisher — the batch oracle IS the parity
    # check
    d["q_stream_brier"] = d["q_brier_decomp"]
    # streamed CRPS: stream/batch parity — the oracle IS the batch SQL
    d["q_crps_stream"] = d["q_crps"]
    d["q_stream_contingency"] = d["q_contingency_scores"]
    # streamed ROC: curve-point stream/batch parity — the oracle IS
    # the batch q_roc_curve SQL (assigned after the roc oracles below)
    d["q_quantile_stream"] = d["q_quantile_score"]
    # streamed mSPRT: the whole sequential readout, stream/batch parity
    d["q_msprt_stream"] = d["q_msprt"]
    # streamed NSE: the whole efficiency score, stream/batch parity
    d["q_nse_stream"] = d["q_nse"]
    d["q_kge_stream"] = d["q_kge"]
    # streamed RPS: the whole multi-category score, stream/batch parity
    d["q_rps_stream"] = d["q_rps"]

    # q_dm_hac: the exact integer Newey-West chain mirrored whole —
    # n-cleared centering e = n*qd - s, lag windows on the SAME
    # (day, qd) sort, Bartlett-cleared V' = (L+1)*C0 + 2*sum((L+1-k)Ck)
    # at L=3, one sqrt seam qv = floor(sqrt(V'*(L+1)) + 0.5)
    d["q_dm_hac"] = f"""
        WITH daily AS (
            SELECT user_id % 5 AS cell,
                   date_diff('day', DATE '2024-01-01',
                             CAST(ts AS DATE)) AS day,
                   max(value) AS inflow
            FROM events GROUP BY 1, 2),
        losses AS (
            SELECT cell, day,
                   abs(inflow - 55.0) AS la,
                   abs(inflow * 0.9 - 50.0) AS lb
            FROM daily),
        q AS (SELECT cell, day,
                     CAST(sign(la) * floor(abs(la) * 1000000 + 0.5)
                          AS HUGEINT)
                     - CAST(sign(lb) * floor(abs(lb) * 1000000 + 0.5)
                            AS HUGEINT) AS qd
              FROM losses),
        g AS (SELECT cell, CAST(count(*) AS HUGEINT) AS n,
                     sum(qd) AS s
              FROM q GROUP BY cell),
        e AS (SELECT q.cell, q.day, q.qd, g.n, g.s,
                     g.n * q.qd - g.s AS e
              FROM q JOIN g USING (cell)),
        lagd AS (SELECT cell, n, s, e,
                        lag(e, 1) OVER w AS e1,
                        lag(e, 2) OVER w AS e2,
                        lag(e, 3) OVER w AS e3
                 FROM e
                 WINDOW w AS (PARTITION BY cell ORDER BY day, qd)),
        c AS (SELECT cell, min(n) AS n, min(s) AS s,
                     sum(e * e) AS c0, sum(e * e1) AS c1,
                     sum(e * e2) AS c2, sum(e * e3) AS c3
              FROM lagd GROUP BY cell),
        v AS (SELECT cell, n, s,
                     4 * c0 + 2 * (3 * coalesce(c1, 0)
                                   + 2 * coalesce(c2, 0)
                                   + 1 * coalesce(c3, 0)) AS vp
              FROM c),
        f AS (SELECT cell, n, s,
                     CAST(floor(sqrt(CAST(vp * 4 AS DOUBLE)) + 0.5)
                          AS HUGEINT) AS qv
              FROM v)
        SELECT cell, CAST(n AS BIGINT) AS n,
               {idiv_half_up('s', 'n', 1000000)} AS mean_diff,
               CASE WHEN qv > 0 THEN
                    {idiv_half_up('s * n * 4 * 1000000', 'qv',
                                  1000000)}
               END AS dm_hac
        FROM f
    """

    # q_roc_curve / q_roc_auc: the descending-threshold cumulative
    # (TP, FP) relation mirrored in HUGEINT; POD/POFD/AUC as the same
    # half-up integer ratios.  The AUC trapezoid 2·P·N·AUC =
    # Σ ΔFP·(TP_i + TP_{i-1}) is an exact integer in both engines.
    _roc_cum = """
        WITH src AS (
            SELECT l_linestatus AS g, l_discount * 10.0 AS p,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
            FROM lineitem
            WHERE l_discount IS NOT NULL
              AND l_returnflag IS NOT NULL),
        pv AS (SELECT g, p,
                      CAST(sum(o) AS HUGEINT) AS tpv,
                      CAST(sum(1 - o) AS HUGEINT) AS fpv
               FROM src GROUP BY g, p),
        cum AS (SELECT g, p,
                       sum(tpv) OVER (PARTITION BY g
                                      ORDER BY p DESC) AS tp,
                       sum(fpv) OVER (PARTITION BY g
                                      ORDER BY p DESC) AS fp,
                       sum(tpv) OVER (PARTITION BY g) AS pos,
                       sum(fpv) OVER (PARTITION BY g) AS neg
                FROM pv)
    """
    d["q_roc_curve"] = f"""
        {_roc_cum}
        SELECT g AS l_linestatus, p AS threshold,
               CAST(tp AS BIGINT) AS hits,
               CAST(fp AS BIGINT) AS false_alarms,
               CAST(pos - tp AS BIGINT) AS misses,
               CAST(neg - fp AS BIGINT) AS correct_negatives,
               CASE WHEN pos > 0 THEN
                    {idiv_half_up('tp * 1000000', 'pos', 1000000)}
               END AS pod,
               CASE WHEN neg > 0 THEN
                    {idiv_half_up('fp * 1000000', 'neg', 1000000)}
               END AS pofd
        FROM cum
    """
    d["q_roc_auc"] = f"""
        {_roc_cum},
        seg AS (SELECT g, pos, neg,
                       (fp - coalesce(lag(fp) OVER w, 0))
                       * (tp + coalesce(lag(tp) OVER w, 0)) AS s
                FROM cum
                WINDOW w AS (PARTITION BY g ORDER BY p DESC)),
        a AS (SELECT g, sum(s) AS num,
                     min(pos) AS pos, min(neg) AS neg
              FROM seg GROUP BY g)
        SELECT g AS l_linestatus,
               CAST(pos + neg AS BIGINT) AS n,
               CAST(pos AS BIGINT) AS positives,
               CAST(neg AS BIGINT) AS negatives,
               CASE WHEN pos > 0 AND neg > 0 THEN
                    {idiv_half_up('num * 1000000', '2 * pos * neg',
                                  1000000)}
               END AS auc
        FROM a
    """
    d["q_roc_stream"] = d["q_roc_curve"]

    # q_polygon_membership: the edge relation (closing edge included)
    # generated from the SAME ring dict the Spark gate builds its
    # vertex rows from; the crossing term is the identical double
    # arithmetic, summed per (point, poly) over all rings (holes
    # subtract via even-odd).  The oracle may cross-join (it is the
    # oracle); the Spark plan is the bucketed candidate join.
    _pm_edges = []
    for (_pid, _rid), _ring in sorted(_PM_RINGS.items()):
        for _i, (_x1, _y1) in enumerate(_ring):
            _x2, _y2 = _ring[(_i + 1) % len(_ring)]
            _pm_edges.append(f"({_pid}, {_x1!r}, {_y1!r}, "
                             f"{_x2!r}, {_y2!r})")
    d["q_polygon_membership"] = f"""
        WITH cells AS (
            SELECT p_partkey AS partkey,
                   round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                   round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT)
                                  % 200) * 0.05, 3) AS longitude
            FROM part),
        edges(pid, x1, y1, x2, y2) AS (
            VALUES {', '.join(_pm_edges)}),
        scored AS (
            SELECT c.partkey, c.latitude, c.longitude,
                   e.pid AS poly_id,
                   CAST(sum(CASE WHEN ((y1 > latitude) != (y2 > latitude))
                                  AND (longitude <
                                       (x2 - x1) * (latitude - y1)
                                       / (y2 - y1) + x1)
                            THEN 1 ELSE 0 END) AS INT) AS n_crossings
            FROM cells c CROSS JOIN edges e
            GROUP BY 1, 2, 3, 4)
        SELECT partkey, latitude, longitude, poly_id, n_crossings
        FROM scored WHERE n_crossings % 2 = 1
    """

    # q_zonal_stats: the SAME membership arithmetic + the exact
    # micro-integer finisher (min/max over quantized longs, mean as
    # the half-up integer ratio sum/count)
    d["q_zonal_stats"] = f"""
        WITH cells AS (
            SELECT p_partkey AS partkey,
                   round(0.025 + (p_partkey % 200) * 0.05, 3) AS latitude,
                   round(0.025 + (CAST(floor(p_partkey / 200) AS BIGINT)
                                  % 200) * 0.05, 3) AS longitude,
                   p_retailprice AS val
            FROM part),
        edges(pid, x1, y1, x2, y2) AS (
            VALUES {', '.join(_pm_edges)}),
        scored AS (
            SELECT c.partkey, c.val, e.pid AS poly_id,
                   CAST(sum(CASE WHEN ((y1 > latitude) != (y2 > latitude))
                                  AND (longitude <
                                       (x2 - x1) * (latitude - y1)
                                       / (y2 - y1) + x1)
                            THEN 1 ELSE 0 END) AS INT) AS n_crossings
            FROM cells c CROSS JOIN edges e
            GROUP BY 1, 2, 3),
        members AS (
            SELECT poly_id,
                   CAST(sign(val) * floor(abs(val) * 1000000 + 0.5)
                        AS HUGEINT) AS qv
            FROM scored WHERE n_crossings % 2 = 1),
        agg AS (
            SELECT poly_id,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(count(qv) AS HUGEINT) AS nv,
                   min(qv) AS mn, max(qv) AS mx, sum(qv) AS s
            FROM members GROUP BY poly_id)
        SELECT poly_id, n_cells,
               CAST(mn AS DOUBLE) / 1000000.0 AS v_min,
               CAST(mx AS DOUBLE) / 1000000.0 AS v_max,
               CASE WHEN nv > 0 THEN
                    {idiv_half_up('s', 'nv', 1000000)}
               END AS v_mean
        FROM agg ORDER BY poly_id
    """

    # Shared SQL fragment builders for the exact-integer geometry
    # oracles (mirrors of serving._quantize_micro / _orient /
    # _on_collinear_seg / _crossing_term_int, expression by
    # expression).
    def _gq(e):
        return (f"CAST(CASE WHEN ({e}) >= 0 THEN "
                f"floor(({e}) * 1000000 + 0.5) "
                f"ELSE -floor(-({e}) * 1000000 + 0.5) END AS BIGINT)")

    def _gorient(px, py, qx, qy, rx, ry):
        return (f"((({qx}) - ({px})) * (({ry}) - ({py})) "
                f"- (({qy}) - ({py})) * (({rx}) - ({px})))")

    def _gonseg(px, py, qx, qy, rx, ry):
        return (f"(({rx}) BETWEEN least({px}, {qx}) "
                f"AND greatest({px}, {qx}) "
                f"AND ({ry}) BETWEEN least({py}, {qy}) "
                f"AND greatest({py}, {qy}))")

    def _gcross(px, py, x1, y1, x2, y2):
        lhs = f"((({px}) - ({x1})) * (({y2}) - ({y1})))"
        rhs = f"((({x2}) - ({x1})) * (({py}) - ({y1})))"
        return (f"CASE WHEN ((({y1}) > ({py})) != (({y2}) > ({py})))"
                f" AND (CASE WHEN ({y2}) > ({y1}) THEN {lhs} < {rhs}"
                f" ELSE {lhs} > {rhs} END) THEN 1 ELSE 0 END")

    # q_polygon_area: literal nested fixture + the part-derived
    # rectangles regenerated with the SAME double expressions; one
    # SQL-side quantization, HUGEINT shoelace, the identical integer
    # ray-cast depth chain (min-struct representative vertex).
    _pa_verts = [f"({_pid}, {_rid}, {_i}, {_x!r}, {_y!r})"
                 for (_pid, _rid), _ring in sorted(_PA_RINGS.items())
                 for _i, (_x, _y) in enumerate(_ring)]
    _pa_cross = _gcross("(r.rep).a", "(r.rep).b",
                        "e.x1", "e.y1", "e.x2", "e.y2")
    d["q_polygon_area"] = f"""
        WITH rect AS (
            SELECT CAST(p_partkey % 5 AS INT) + 10 AS pid,
                   min(CAST(p_retailprice AS DOUBLE)) / 1000 AS xlo,
                   max(CAST(p_retailprice AS DOUBLE)) / 1000 AS xhi,
                   min((p_partkey % 89) * CAST(0.07 AS DOUBLE)) AS ylo,
                   max((p_partkey % 89) * CAST(0.07 AS DOUBLE)) AS yhi
            FROM part GROUP BY 1),
        rverts AS (
            SELECT pid, 0 AS rid, u.vi AS vi, u.x AS x, u.y AS y
            FROM rect, unnest([
                struct_pack(vi := 0, x := xlo, y := ylo),
                struct_pack(vi := 1, x := xhi, y := ylo),
                struct_pack(vi := 2, x := xhi, y := yhi),
                struct_pack(vi := 3, x := xlo, y := yhi)]) AS t(u)),
        lverts(pid, rid, vi, x, y) AS (VALUES {', '.join(_pa_verts)}),
        allverts AS (SELECT * FROM lverts UNION ALL
                     SELECT * FROM rverts),
        verts AS (SELECT pid, rid, vi, {_gq('x')} AS qx,
                         {_gq('y')} AS qy
                  FROM allverts),
        edges AS (
            SELECT pid, rid, qx AS x1, qy AS y1,
                   coalesce(lead(qx) OVER w, first_value(qx) OVER w2)
                       AS x2,
                   coalesce(lead(qy) OVER w, first_value(qy) OVER w2)
                       AS y2
            FROM verts
            WINDOW w AS (PARTITION BY pid, rid ORDER BY vi),
                   w2 AS (PARTITION BY pid, rid ORDER BY vi
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)),
        rings AS (
            SELECT pid, rid,
                   sum(CAST(x1 AS HUGEINT) * y2
                       - CAST(x2 AS HUGEINT) * y1) AS sa2,
                   min(struct_pack(a := x1, b := y1)) AS rep
            FROM edges GROUP BY pid, rid),
        depth AS (
            SELECT r.pid, r.rid, e.rid AS orid,
                   sum({_pa_cross}) AS cr
            FROM rings r
            JOIN edges e ON r.pid = e.pid AND e.rid <> r.rid
            GROUP BY 1, 2, 3),
        d2 AS (SELECT pid, rid, count(*) AS dep
               FROM depth WHERE cr % 2 = 1 GROUP BY 1, 2),
        signs AS (
            SELECT r.pid, r.rid,
                   CASE WHEN coalesce(d2.dep, 0) % 2 = 0
                        THEN abs(sa2) ELSE -abs(sa2) END AS a2
            FROM rings r
            LEFT JOIN d2 ON r.pid = d2.pid AND r.rid = d2.rid)
        SELECT pid AS poly_id, CAST(count(*) AS INT) AS n_rings,
               CAST(sum(a2) AS DOUBLE) / 2e12 AS area
        FROM signs GROUP BY pid ORDER BY poly_id
    """

    # q_polygon_box_intersects: per (cell-box, polygon-edge) the full
    # 16-orientation closed-segment battery against the 4 box edges +
    # the vertex-in-box and doubled-micro center-parity terms — every
    # comparison integer, generated from the same helpers as the area
    # oracle.  The oracle may cross-join (it is the oracle); the Spark
    # plan is the bucketed candidate join.
    _bi_edges = []
    for (_pid, _rid), _ring in sorted(_PM_RINGS.items()):
        for _i, (_x1, _y1) in enumerate(_ring):
            _x2, _y2 = _ring[(_i + 1) % len(_ring)]
            _bi_edges.append(f"({_pid}, {_x1!r}, {_y1!r}, "
                             f"{_x2!r}, {_y2!r})")
    _box_edges = [("bxlo", "bylo", "bxhi", "bylo"),
                  ("bxlo", "byhi", "bxhi", "byhi"),
                  ("bxlo", "bylo", "bxlo", "byhi"),
                  ("bxhi", "bylo", "bxhi", "byhi")]
    _o_cols, _seg_terms = [], []
    for _k, (_e1x, _e1y, _e2x, _e2y) in enumerate(_box_edges):
        _o_cols += [
            f"{_gorient('x1', 'y1', 'x2', 'y2', _e1x, _e1y)} AS o{_k}a",
            f"{_gorient('x1', 'y1', 'x2', 'y2', _e2x, _e2y)} AS o{_k}b",
            f"{_gorient(_e1x, _e1y, _e2x, _e2y, 'x1', 'y1')} AS o{_k}c",
            f"{_gorient(_e1x, _e1y, _e2x, _e2y, 'x2', 'y2')} AS o{_k}d"]
        _seg_terms.append(
            f"(((o{_k}a > 0 AND o{_k}b < 0) OR (o{_k}a < 0 AND "
            f"o{_k}b > 0)) AND ((o{_k}c > 0 AND o{_k}d < 0) OR "
            f"(o{_k}c < 0 AND o{_k}d > 0)))"
            f" OR (o{_k}a = 0 AND "
            f"{_gonseg('x1', 'y1', 'x2', 'y2', _e1x, _e1y)})"
            f" OR (o{_k}b = 0 AND "
            f"{_gonseg('x1', 'y1', 'x2', 'y2', _e2x, _e2y)})"
            f" OR (o{_k}c = 0 AND "
            f"{_gonseg(_e1x, _e1y, _e2x, _e2y, 'x1', 'y1')})"
            f" OR (o{_k}d = 0 AND "
            f"{_gonseg(_e1x, _e1y, _e2x, _e2y, 'x2', 'y2')})")
    _bi_ctr = _gcross("bxlo + bxhi", "bylo + byhi",
                      "2 * x1", "2 * y1", "2 * x2", "2 * y2")
    d["q_polygon_box_intersects"] = f"""
        WITH cells AS (
            -- extents surface as DOUBLE (Spark's type); the DECIMAL
            -- subtraction is exact, so the cast agrees with Spark's
            -- double arithmetic at both 9-sig-digit and micro scale
            SELECT p_partkey AS partkey,
                   CAST(round(0.025 + (p_partkey % 200) * 0.05, 3)
                        - 0.025 AS DOUBLE) AS lat_min,
                   CAST(round(0.025 + (p_partkey % 200) * 0.05, 3)
                        + 0.025 AS DOUBLE) AS lat_max,
                   CAST(round(0.025 + (CAST(floor(p_partkey / 200)
                                            AS BIGINT) % 200) * 0.05, 3)
                        - 0.025 AS DOUBLE) AS lon_min,
                   CAST(round(0.025 + (CAST(floor(p_partkey / 200)
                                            AS BIGINT) % 200) * 0.05, 3)
                        + 0.025 AS DOUBLE) AS lon_max
            FROM part),
        qcells AS (
            SELECT partkey, lat_min, lat_max, lon_min, lon_max,
                   {_gq('lon_min')} AS bxlo, {_gq('lon_max')} AS bxhi,
                   {_gq('lat_min')} AS bylo, {_gq('lat_max')} AS byhi
            FROM cells),
        redges(pid, ex1, ey1, ex2, ey2) AS (
            VALUES {', '.join(_bi_edges)}),
        qedges AS (
            SELECT pid, {_gq('ex1')} AS x1, {_gq('ey1')} AS y1,
                   {_gq('ex2')} AS x2, {_gq('ey2')} AS y2
            FROM redges),
        o AS (
            SELECT c.*, e.pid, e.x1, e.y1, e.x2, e.y2,
                   {', '.join(_o_cols)}
            FROM qcells c CROSS JOIN qedges e),
        t AS (
            SELECT partkey, lat_min, lat_max, lon_min, lon_max, pid,
                   CASE WHEN (x1 BETWEEN bxlo AND bxhi
                              AND y1 BETWEEN bylo AND byhi)
                             OR {' OR '.join(_seg_terms)}
                        THEN 1 ELSE 0 END AS b,
                   {_bi_ctr} AS c
            FROM o),
        agg AS (
            SELECT partkey, lat_min, lat_max, lon_min, lon_max,
                   pid AS poly_id, max(b) AS tb, sum(c) AS nc
            FROM t GROUP BY 1, 2, 3, 4, 5, 6)
        SELECT partkey, lat_min, lat_max, lon_min, lon_max, poly_id,
               (tb = 1) AS touches_boundary,
               (nc % 2 = 1) AS center_inside
        FROM agg WHERE tb = 1 OR nc % 2 = 1
        ORDER BY partkey, poly_id
    """

    # q_zonal_weighted: the whole Sutherland-Hodgman chain mirrored —
    # 4 clip stages (window + conditional unnest each, identical
    # half-up integer intersection rounding via the sign-normalized
    # idiv), shoelace on the clipped rings, even-odd nesting signs
    # from the same depth chain as the area oracle, exact ratio
    # finishers.  The oracle may cross-join every (cell, poly) pair;
    # empty clips contribute nothing, matching the Spark candidate
    # pruning exactly.
    def _gidiv(num, den):
        n2 = f"(CASE WHEN ({den}) < 0 THEN -({num}) ELSE ({num}) END)"
        d2 = f"abs({den})"
        return (f"(CASE WHEN {n2} < 0 THEN "
                f"-((2 * (-({n2})) + {d2}) // (2 * {d2})) "
                f"ELSE (2 * ({n2}) + {d2}) // (2 * {d2}) END)")

    def _clip_stage_sql(k, axis, ge, bound):
        c1, c2 = ("x", "x2") if axis == "x" else ("y", "y2")
        o1, o2 = ("y", "y2") if axis == "x" else ("x", "x2")
        op = ">=" if ge else "<="
        num = f"CAST(({o2} - {o1}) AS HUGEINT) * ({bound} - {c1})"
        oc = (f"CAST({o1} + {_gidiv(num, f'({c2} - {c1})')} "
              f"AS BIGINT)")
        if axis == "x":
            ipt = f"struct_pack(o := 0, x := {bound}, y := {oc})"
        else:
            ipt = f"struct_pack(o := 0, x := {oc}, y := {bound})"
        vpt = "struct_pack(o := 1, x := x2, y := y2)"
        return f"""
        e{k} AS (
            SELECT partkey, pid, rid, bxlo, bxhi, bylo, byhi, qv, seq,
                   x, y,
                   coalesce(lead(x) OVER w, first_value(x) OVER w2)
                       AS x2,
                   coalesce(lead(y) OVER w, first_value(y) OVER w2)
                       AS y2
            FROM s{k - 1}
            WINDOW w AS (PARTITION BY partkey, pid, rid ORDER BY seq),
                   w2 AS (PARTITION BY partkey, pid, rid ORDER BY seq
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)),
        s{k} AS (
            SELECT partkey, pid, rid, bxlo, bxhi, bylo, byhi, qv,
                   seq * 2 + u.o AS seq, u.x AS x, u.y AS y
            FROM e{k}, unnest(
                CASE WHEN ({c2} {op} {bound})
                          AND NOT ({c1} {op} {bound})
                          THEN [{ipt}, {vpt}]
                     WHEN ({c2} {op} {bound}) THEN [{vpt}]
                     WHEN ({c1} {op} {bound}) THEN [{ipt}]
                     ELSE CAST([] AS
                               STRUCT(o INTEGER, x BIGINT,
                                      y BIGINT)[])
                END) AS t(u))"""

    _zw_verts = [f"({_pid}, {_rid}, {_i}, {_x!r}, {_y!r})"
                 for (_pid, _rid), _ring in sorted(_PA_RINGS.items())
                 for _i, (_x, _y) in enumerate(_ring)]
    _zw_cross = _gcross("(r.rep).a", "(r.rep).b",
                        "e.x1", "e.y1", "e.x2", "e.y2")
    _zw_stages = "".join(
        "," + _clip_stage_sql(k + 1, axis, ge, bound)
        for k, (axis, ge, bound) in enumerate(
            [("x", True, "bxlo"), ("x", False, "bxhi"),
             ("y", True, "bylo"), ("y", False, "byhi")]))
    d["q_zonal_weighted"] = f"""
        WITH lverts(pid, rid, vi, vx, vy) AS (
            VALUES {', '.join(_zw_verts)}),
        verts AS (SELECT pid, rid, vi, {_gq('vx')} AS qx,
                         {_gq('vy')} AS qy
                  FROM lverts),
        sedges AS (
            SELECT pid, rid, qx AS x1, qy AS y1,
                   coalesce(lead(qx) OVER w, first_value(qx) OVER w2)
                       AS x2,
                   coalesce(lead(qy) OVER w, first_value(qy) OVER w2)
                       AS y2
            FROM verts
            WINDOW w AS (PARTITION BY pid, rid ORDER BY vi),
                   w2 AS (PARTITION BY pid, rid ORDER BY vi
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)),
        srings AS (
            SELECT pid, rid,
                   sum(CAST(x1 AS HUGEINT) * y2
                       - CAST(x2 AS HUGEINT) * y1) AS sa2,
                   min(struct_pack(a := x1, b := y1)) AS rep
            FROM sedges GROUP BY pid, rid),
        sdepth AS (
            SELECT r.pid, r.rid, e.rid AS orid,
                   sum({_zw_cross}) AS cr
            FROM srings r
            JOIN sedges e ON r.pid = e.pid AND e.rid <> r.rid
            GROUP BY 1, 2, 3),
        sd2 AS (SELECT pid, rid, count(*) AS dep
                FROM sdepth WHERE cr % 2 = 1 GROUP BY 1, 2),
        ssigns AS (
            SELECT r.pid, r.rid,
                   CASE WHEN coalesce(sd2.dep, 0) % 2 = 0
                        THEN sign(CAST(sa2 AS DOUBLE))
                        ELSE -sign(CAST(sa2 AS DOUBLE)) END AS sgn0,
                   CASE WHEN coalesce(sd2.dep, 0) % 2 = 0
                        THEN abs(sa2) ELSE -abs(sa2) END AS a2
            FROM srings r
            LEFT JOIN sd2 ON r.pid = sd2.pid AND r.rid = sd2.rid),
        qcells AS (
            SELECT p_partkey AS partkey, p_retailprice AS val,
                   {_gq('''CAST(round(0.025
                        + (CAST(floor(p_partkey / 200) AS BIGINT)
                           % 200) * 0.05, 3) - 0.025 AS DOUBLE)''')}
                       AS bxlo,
                   {_gq('''CAST(round(0.025
                        + (CAST(floor(p_partkey / 200) AS BIGINT)
                           % 200) * 0.05, 3) + 0.025 AS DOUBLE)''')}
                       AS bxhi,
                   {_gq('''CAST(round(0.025 + (p_partkey % 200) * 0.05,
                                      3) - 0.025 AS DOUBLE)''')}
                       AS bylo,
                   {_gq('''CAST(round(0.025 + (p_partkey % 200) * 0.05,
                                      3) + 0.025 AS DOUBLE)''')}
                       AS byhi,
                   CAST(sign(p_retailprice)
                        * floor(abs(p_retailprice) * 1000000 + 0.5)
                        AS BIGINT) AS qv
            FROM part),
        s0 AS (
            SELECT c.partkey, v.pid, v.rid, c.bxlo, c.bxhi, c.bylo,
                   c.byhi, c.qv, CAST(v.vi AS BIGINT) AS seq,
                   v.qx AS x, v.qy AS y
            FROM qcells c CROSS JOIN verts v)
        {_zw_stages},
        closed AS (
            SELECT partkey, pid, rid, qv, x, y,
                   coalesce(lead(x) OVER w, first_value(x) OVER w2)
                       AS x2,
                   coalesce(lead(y) OVER w, first_value(y) OVER w2)
                       AS y2
            FROM s4
            WINDOW w AS (PARTITION BY partkey, pid, rid ORDER BY seq),
                   w2 AS (PARTITION BY partkey, pid, rid ORDER BY seq
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)),
        ring_area AS (
            SELECT partkey, pid, rid,
                   sum(CAST(x AS HUGEINT) * y2
                       - CAST(x2 AS HUGEINT) * y) AS c2,
                   min(qv) AS qv
            FROM closed GROUP BY 1, 2, 3),
        contrib AS (
            SELECT r.partkey, r.pid,
                   greatest(CAST(0 AS HUGEINT),
                            sum(CASE WHEN g.a2 >= 0 THEN abs(r.c2)
                                     ELSE -abs(r.c2) END)) AS w2,
                   min(r.qv) AS qv
            FROM ring_area r
            JOIN ssigns g ON r.pid = g.pid AND r.rid = g.rid
            GROUP BY 1, 2),
        agg AS (
            SELECT pid AS poly_id,
                   CAST(sum(CASE WHEN w2 > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_cells,
                   sum(w2) AS a2s,
                   sum(CASE WHEN qv IS NOT NULL
                            THEN CAST(qv AS HUGEINT) * w2 END) AS vw,
                   sum(CASE WHEN qv IS NOT NULL THEN w2 END) AS ww
            FROM contrib GROUP BY 1)
        SELECT poly_id, n_cells,
               CAST(a2s AS DOUBLE) / 2e12 AS area,
               CASE WHEN ww > 0 THEN
                    {idiv_half_up('vw', 'ww', 1000000)}
               END AS v_wmean
        FROM agg WHERE n_cells > 0 ORDER BY poly_id
    """
    # streamed polygon membership: stream/batch parity — the oracle IS
    # the batch membership SQL
    d["q_membership_stream"] = d["q_polygon_membership"]

    # q_polygon_join: both sides' edge/ring/depth/representative chains
    # emitted by one generator (identical structure to the area
    # oracle), then the three predicate relations (edge×edge
    # 4-orientation battery, repA×edgesB parity, repB×edgesA parity)
    # UNION into one aggregate — the mirror of the Spark fold.
    def _side_sql(p, verts):
        cross = _gcross(f"(r.rep).a", f"(r.rep).b",
                        "e.x1", "e.y1", "e.x2", "e.y2")
        return f"""
        {p}edges AS (
            SELECT pid, rid, qx AS x1, qy AS y1,
                   coalesce(lead(qx) OVER w, first_value(qx) OVER w2)
                       AS x2,
                   coalesce(lead(qy) OVER w, first_value(qy) OVER w2)
                       AS y2
            FROM {verts}
            WINDOW w AS (PARTITION BY pid, rid ORDER BY vi),
                   w2 AS (PARTITION BY pid, rid ORDER BY vi
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)),
        {p}rings AS (
            SELECT pid, rid,
                   sum(CAST(x1 AS HUGEINT) * y2
                       - CAST(x2 AS HUGEINT) * y1) AS sa2,
                   min(struct_pack(a := x1, b := y1)) AS rep
            FROM {p}edges GROUP BY pid, rid),
        {p}depth AS (
            SELECT r.pid, r.rid, e.rid AS orid, sum({cross}) AS cr
            FROM {p}rings r
            JOIN {p}edges e ON r.pid = e.pid AND e.rid <> r.rid
            GROUP BY 1, 2, 3),
        {p}d2 AS (SELECT pid, rid, count(*) AS dep
                  FROM {p}depth WHERE cr % 2 = 1 GROUP BY 1, 2),
        {p}signs AS (
            SELECT r.pid, r.rid, r.rep,
                   CASE WHEN coalesce(d2.dep, 0) % 2 = 0
                        THEN abs(sa2) ELSE -abs(sa2) END AS a2
            FROM {p}rings r
            LEFT JOIN {p}d2 d2 ON r.pid = d2.pid AND r.rid = d2.rid),
        {p}rep AS (SELECT pid, min(rep) AS rep FROM {p}signs
                   WHERE a2 >= 0 GROUP BY pid)"""

    _pj_o = [
        f"{_gorient('ax1', 'ay1', 'ax2', 'ay2', 'bx1', 'by1')} AS o1",
        f"{_gorient('ax1', 'ay1', 'ax2', 'ay2', 'bx2', 'by2')} AS o2",
        f"{_gorient('bx1', 'by1', 'bx2', 'by2', 'ax1', 'ay1')} AS o3",
        f"{_gorient('bx1', 'by1', 'bx2', 'by2', 'ax2', 'ay2')} AS o4"]
    _pj_seg = (
        "(((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0)) AND "
        "((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0)))"
        f" OR (o1 = 0 AND "
        f"{_gonseg('ax1', 'ay1', 'ax2', 'ay2', 'bx1', 'by1')})"
        f" OR (o2 = 0 AND "
        f"{_gonseg('ax1', 'ay1', 'ax2', 'ay2', 'bx2', 'by2')})"
        f" OR (o3 = 0 AND "
        f"{_gonseg('bx1', 'by1', 'bx2', 'by2', 'ax1', 'ay1')})"
        f" OR (o4 = 0 AND "
        f"{_gonseg('bx1', 'by1', 'bx2', 'by2', 'ax2', 'ay2')})")
    d["q_polygon_join"] = f"""
        WITH averts(pid, rid, vi, vx, vy) AS (
            VALUES {', '.join(_zw_verts)}),
        qaverts AS (SELECT pid, rid, vi, {_gq('vx')} AS qx,
                           {_gq('vy')} AS qy
                    FROM averts),
        rect AS (
            SELECT CAST(p_partkey % 5 AS INT) + 20 AS pid,
                   min(CAST(p_retailprice AS DOUBLE)) AS mnv,
                   max(CAST(p_retailprice AS DOUBLE)) AS mxv,
                   min((p_partkey % ((p_partkey % 5) + 13))
                       * CAST(0.05 AS DOUBLE)) AS ylo,
                   max((p_partkey % ((p_partkey % 5) + 13))
                       * CAST(0.05 AS DOUBLE)) AS yhi
            FROM part GROUP BY 1),
        rect2 AS (
            SELECT pid, mnv / (3000 + (pid - 20) * 500) AS xlo,
                   mxv / (2000 + (pid - 20) * 400) AS xhi, ylo, yhi
            FROM rect),
        bverts AS (
            SELECT pid, 0 AS rid, u.vi AS vi, u.x AS x, u.y AS y
            FROM rect2, unnest([
                struct_pack(vi := 0, x := xlo, y := ylo),
                struct_pack(vi := 1, x := xhi, y := ylo),
                struct_pack(vi := 2, x := xhi, y := yhi),
                struct_pack(vi := 3, x := xlo, y := yhi)]) AS t(u)),
        qbverts AS (SELECT pid, rid, vi, {_gq('x')} AS qx,
                           {_gq('y')} AS qy
                    FROM bverts),
        {_side_sql('a', 'qaverts')},
        {_side_sql('b', 'qbverts')},
        ep AS (
            SELECT ea.pid AS pa, eb.pid AS pb,
                   ea.x1 AS ax1, ea.y1 AS ay1, ea.x2 AS ax2,
                   ea.y2 AS ay2, eb.x1 AS bx1, eb.y1 AS by1,
                   eb.x2 AS bx2, eb.y2 AS by2
            FROM aedges ea CROSS JOIN bedges eb),
        epo AS (SELECT *, {', '.join(_pj_o)} FROM ep),
        u AS (
            SELECT pa, pb,
                   CASE WHEN {_pj_seg} THEN 1 ELSE 0 END AS t,
                   0 AS ca, 0 AS cb
            FROM epo
            UNION ALL
            SELECT r.pid AS pa, e.pid AS pb, 0 AS t,
                   {_gcross('(r.rep).a', '(r.rep).b', 'e.x1', 'e.y1',
                            'e.x2', 'e.y2')} AS ca, 0 AS cb
            FROM arep r CROSS JOIN bedges e
            UNION ALL
            SELECT e.pid AS pa, r.pid AS pb, 0 AS t, 0 AS ca,
                   {_gcross('(r.rep).a', '(r.rep).b', 'e.x1', 'e.y1',
                            'e.x2', 'e.y2')} AS cb
            FROM brep r CROSS JOIN aedges e),
        agg AS (
            SELECT pa, pb, max(t) AS tb, sum(ca) AS na, sum(cb) AS nb
            FROM u GROUP BY 1, 2)
        SELECT pa AS poly_a, pb AS poly_b,
               (tb = 1) AS touches_boundary,
               (na % 2 = 1) AS a_in_b, (nb % 2 = 1) AS b_in_a
        FROM agg
        WHERE tb = 1 OR na % 2 = 1 OR nb % 2 = 1
        ORDER BY 1, 2
    """
    return d
