"""Scale posture: shuffle-shaping helpers for the 100 TB deployment.

The reference hand-rolls its scale strategy as ``repartition(100, latitude,
longitude)`` on every join input (databricks/glofas-forecast-computation.py:
138,155,197) — a fixed partition count chosen for one cluster size, re-paid
as a full shuffle on every run.  This module provides the Spark-native
replacements:

- **Bucketed storage** (`bucketed_write`): persist the big per-cell
  tables bucketed by the grid key so every downstream equi-join or groupBy
  on that key is co-located — the shuffle is paid ONCE at write time and
  amortized over every subsequent query (read back with `spark.table`).
  This is the 1000-executor answer to the reference's per-run repartition.
- **Salted joins** (`salted_join`): grid workloads skew (dense river networks
  concentrate cells; a hot ensemble date concentrates rows).  AQE skew-join
  splitting (on in our session factory) handles sort-merge skew at runtime;
  salting is the declarative fallback when one key dominates a
  non-broadcastable join.

The reference's sort before save (threshold-data-joining.py:120) is not a
writer here: the daily products themselves end in that sort, by
(issued_on, latitude, longitude) (`plans.daily_pipeline`), so every writer
of them gets a layout whose row-group min/max stats prune a lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucketed_write(df: DataFrame, table_name: str, bucket_cols,
                   num_buckets: int = 256, sort_cols=None,
                   mode: str = "overwrite", path: str | None = None) -> None:
    """Persist `df` hash-bucketed (and optionally sorted) by `bucket_cols`.

    Joins/groupBys between tables bucketed the same way on the same keys run
    shuffle-free: Catalyst recognizes the bucketing as a satisfied hash
    distribution requirement on both sides.
    """
    cols = list(bucket_cols)
    writer = (df.write.mode(mode)
              .bucketBy(num_buckets, cols[0], *cols[1:]))
    if sort_cols:
        sc = list(sort_cols)
        writer = writer.sortBy(sc[0], *sc[1:])
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def salted_join(large: DataFrame, small: DataFrame, on,
                how: str = "inner", salt_buckets: int = 16,
                salt_col: str = "_salt") -> DataFrame:
    """Equi-join resilient to heavy key skew on the `large` side.

    The large side gets a per-row salt from xxhash64 over the row content
    plus `monotonically_increasing_id()`, splitting each hot key across
    `salt_buckets` reducers even when the hot key's rows are byte-identical
    (a content-only hash would send duplicates to one bucket and leave the
    straggler intact).  Salt values depend on the scan's partition layout,
    so they are not stable across runs — irrelevant for correctness, since
    every (key, salt) pair still meets its exploded small-side match.
    Row-multiplicity semantics are exactly those of the unsalted join.

    Use when the small side is too big to broadcast AND one key dominates;
    otherwise prefer plain joins + AQE skew splitting.

    Supported join types: inner / left / left_semi / left_anti — the ones
    whose multiplicity is unchanged by exploding the small side.  Right and
    full-outer would emit each unmatched small row once per salt value and
    are rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join does not preserve {how!r} join semantics: "
            "unmatched small-side rows would be duplicated per salt bucket")
    keys = [on] if isinstance(on, str) else list(on)
    salted_large = large.withColumn(
        salt_col, F.pmod(F.xxhash64(F.monotonically_increasing_id(),
                                    *[F.col(c) for c in large.columns]),
                         F.lit(salt_buckets)).cast("int"))
    salted_small = small.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    return (salted_large
            .join(salted_small, keys + [salt_col], how)
            .drop(salt_col))


def join_fanout_report(left: DataFrame, right: DataFrame, keys,
                       top_n: int = 20,
                       shuffle_partitions: int | None = None,
                       broadcast_threshold_rows: int = 1_000_000
                       ) -> DataFrame:
    """Pre-flight skew diagnostic for an equi-join: the top_n join keys
    by OUTPUT fan-out (n_left x n_right), plus each key's share of the
    total estimated output and a per-key `recommendation`.  At 100 TB
    you run this (two key-bounded groupBys + one key-relation join —
    never the join itself) before paying for a shuffle that one hot
    key would straggle.

    recommendation (measured rules — `bench.py --skew` numbers in
    docs/SCALE_NOTES.md "AQE vs salted_join"):

      'broadcast'  the whole right side is under
                   `broadcast_threshold_rows` — broadcast it; no
                   shuffle exists for skew to straggle.
      'salt'       this key's fanout_share ≥ 2/shuffle_partitions —
                   a straggler-level key.  `salted_join` is the
                   dependable fix (measured 2.7x on the planted
                   fixture); AQE's splitter at DEFAULT thresholds
                   did NOT fire there (byte-calibrated — a 27M-row
                   hot key of narrow compressed longs stays under the
                   256 MB threshold), and it declines joins whose
                   output must stay hash-partitioned.  Tuned-AQE is
                   the alternative when you control session conf AND
                   nothing downstream reuses the join's partitioning
                   — see SCALE_NOTES for the decision table.
      'none'       no action needed.

    `shuffle_partitions` defaults to the session's
    spark.sql.shuffle.partitions; pass it explicitly when the report
    must be engine-portable (the oracle mirrors a literal).

    Output: (keys..., n_left, n_right, fanout, fanout_share,
    recommendation) ordered by fanout desc then keys asc
    (deterministic), inner-join semantics (keys absent from either
    side produce no output rows and are omitted — they cost nothing).
    fanout_share is rounded to 6.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    keys = [keys] if isinstance(keys, str) else list(keys)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if shuffle_partitions < 1:
        raise ValueError(f"shuffle_partitions must be >= 1, "
                         f"got {shuffle_partitions}")
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_right"))
    # key-bounded relation feeds both the per-key join and the
    # right-side total — localCheckpoint so the corpus groupBy runs
    # once (same lesson as per_key below)
    rc = rc.localCheckpoint(eager=False)
    rtot = rc.agg(F.sum("n_right").alias("_rtot"))
    # fanout as DOUBLE: a long product WRAPS silently past 2^63 (e.g.
    # 4e9 x 3e9 — exactly the extreme-skew keys this report exists to
    # surface would sort LAST); doubles are exact below 2^53 and
    # merely lose precision beyond, never the ordering.
    # localCheckpoint: per_key feeds both the total and the output —
    # without it the two corpus-sized groupBys execute twice (the
    # LM-table lesson), doubling the pre-flight this op minimizes
    per_key = (lc.join(rc, keys)
               .withColumn("fanout",
                           F.col("n_left").cast("double")
                           * F.col("n_right"))
               .localCheckpoint(eager=False))
    total = per_key.agg(F.sum("fanout").alias("_tot"))
    share = F.round(F.col("fanout") / F.col("_tot"), 6)
    rec = (F.when(F.col("_rtot") <= broadcast_threshold_rows,
                  F.lit("broadcast"))
           .when(share >= 2.0 / shuffle_partitions, F.lit("salt"))
           .otherwise(F.lit("none")))
    return (per_key.crossJoin(F.broadcast(total))
            .crossJoin(F.broadcast(rtot))
            .select(*keys, "n_left", "n_right", "fanout",
                    share.alias("fanout_share"),
                    rec.alias("recommendation"))
            .orderBy(F.col("fanout").desc(), *[F.col(k) for k in keys])
            .limit(top_n))


def compact_partition(spark, path: str, target_file_bytes: int = 128 * 1024 * 1024,
                      sort_cols=("latitude", "longitude")) -> int:
    """Rewrite one table/partition directory into ~target-sized files.

    Streaming sinks and incremental appends accumulate small files; at
    100 TB the resulting task explosion (1 task per tiny file) dominates
    scan time.  Reads the directory, coalesces to
    ceil(input_bytes / target_file_bytes) files (coalesce, not repartition:
    no shuffle — existing partitions are merged), restores the sorted
    layout, and atomically replaces via a staging directory.  Returns the
    new file count.
    """
    import math

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path).coalesce(n_files)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    staging = path.rstrip("/") + "._compact_tmp"
    retired = path.rstrip("/") + "._compact_old"
    df.write.mode("overwrite").parquet(staging)
    # two renames, not delete-then-rename: a crash mid-swap leaves the data
    # recoverable under one of the side names instead of gone
    rpath = jvm.org.apache.hadoop.fs.Path(retired)
    if fs.exists(rpath):
        fs.delete(rpath, True)
    fs.rename(hpath, rpath)
    fs.rename(jvm.org.apache.hadoop.fs.Path(staging), hpath)
    fs.delete(rpath, True)
    return n_files


def summarize_increment(df: DataFrame, group_cols, value_col: str) -> DataFrame:
    """Mergeable per-group summary state: (keys, n, sum_micro, min_value,
    max_value) — every field merges associatively, which is what makes
    aggregates INCREMENTAL: summarize each day once, `merge_summaries`
    folds the new day into the running state, and the history is never
    rescanned (the kappa-architecture batch half; the same mergeable-
    state idea as `sketches.cms_merge` / `kmv_sketch`, for the exact
    aggregates).

    Sums accumulate in integer micro-units (exact, order-free — the
    features.py discipline), so merged results are bit-identical to a
    from-scratch aggregation: `q_agg_merge` gates merge(summary(A),
    summary(B)) == summary(A ∪ B) as a VALUE equality, not a tolerance.
    NULL values don't count toward n (they carry no mass in any field).
    """
    keys = list(group_cols)
    v = F.col(value_col)
    mu = F.round(v * 1_000_000).cast("long")
    return (df.groupBy(*keys)
            .agg(F.count(v).alias("n"),
                 F.sum(mu).alias("sum_micro"),
                 F.min(v).alias("min_value"),
                 F.max(v).alias("max_value")))


def merge_summaries(a: DataFrame, b: DataFrame, group_cols) -> DataFrame:
    """Fold two summary states into one: group-state-sized work, no raw
    data anywhere.  Outer-union semantics — keys present in only one
    side pass through unchanged (coalesce on the identity of each
    field's monoid: 0 for counts/sums, NULL-skipping min/max via
    least/greatest coalescing)."""
    keys = list(group_cols)
    an = a.select(*keys, F.col("n").alias("_na"),
                  F.col("sum_micro").alias("_sa"),
                  F.col("min_value").alias("_mna"),
                  F.col("max_value").alias("_mxa"))
    bn = b.select(*keys, F.col("n").alias("_nb"),
                  F.col("sum_micro").alias("_sb"),
                  F.col("min_value").alias("_mnb"),
                  F.col("max_value").alias("_mxb"))
    j = an.join(bn, on=keys, how="full_outer")
    zl = F.lit(0).cast("long")
    mn = F.when(F.col("_mna").isNull(), F.col("_mnb")) \
        .when(F.col("_mnb").isNull(), F.col("_mna")) \
        .otherwise(F.least("_mna", "_mnb"))
    mx = F.when(F.col("_mxa").isNull(), F.col("_mxb")) \
        .when(F.col("_mxb").isNull(), F.col("_mxa")) \
        .otherwise(F.greatest("_mxa", "_mxb"))
    return j.select(
        *keys,
        (F.coalesce(F.col("_na"), zl)
         + F.coalesce(F.col("_nb"), zl)).alias("n"),
        (F.coalesce(F.col("_sa"), zl)
         + F.coalesce(F.col("_sb"), zl)).alias("sum_micro"),
        mn.alias("min_value"), mx.alias("max_value"))


def summary_stats(summary: DataFrame) -> DataFrame:
    """Read the derived statistics off a summary state: the mean is a
    division of exact integers (engine-portable), min/max raw."""
    return summary.select(
        "*",
        F.when(F.col("n") > 0,
               F.col("sum_micro").cast("double") / F.col("n")
               / 1_000_000).alias("mean"))
