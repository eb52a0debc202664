"""Parquet sources & sinks (SURVEY.md §2.1 S7-S10).

Reference behaviors preserved:
- big forecast scans use an *explicit* schema + multi-file glob
  (glofas-forecast-computation.py:110-132) — no inference pass, pushdown and
  column pruning enabled from the first plan;
- every ingest point rounds (latitude, longitude) to the configured
  precision before anything downstream can join (§1.4 float-key discipline);
- sinks write snappy Parquet, mode=overwrite (glofas-forecast-computation.py
  :276-280; raster_converter.py:8-11).

Scale posture beyond the reference: writers can partition by `issued_on`
(daily batches prune to one folder).  Writers add no sort of their own:
the daily products arrive sorted by (issued_on, latitude, longitude), the
reference's sort before save (threshold-data-joining.py:120), so their
row-group min/max stats are selective for lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flood_data_spark.functions.keys import round_keys
from flood_data_spark.functions.temporal import normalize_forecast_times
from flood_data_spark.schemas import RAW_FORECAST_SCHEMA


def read_forecast(spark: SparkSession, path: str,
                  precision: int | None = None,
                  normalize_times: bool = True) -> DataFrame:
    """Read raw filtered-forecast parquet (glob ok), apply key + time
    normalization."""
    df = spark.read.schema(RAW_FORECAST_SCHEMA).parquet(path)
    df = round_keys(df, precision)
    if normalize_times:
        df = normalize_forecast_times(df)
    return df


def read_thresholds(spark: SparkSession, path: str,
                    precision: int | None = None) -> DataFrame:
    """Small static table: inferred schema, rounded keys
    (reference :148-150)."""
    return round_keys(spark.read.parquet(path), precision)


def read_control(spark: SparkSession, path: str,
                 precision: int | None = None) -> DataFrame:
    """External control forecast → (latitude, longitude, control_dis)."""
    from flood_data_spark.operators.summary import normalize_control
    df = spark.read.schema(RAW_FORECAST_SCHEMA).parquet(path)
    return normalize_control(df, precision)


def write_parquet(df: DataFrame, path: str,
                  mode: str = "overwrite",
                  partition_by: list | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def upsert_partitions(df: DataFrame, path: str, partition_by) -> None:
    """Replace exactly the partitions present in `df`, leave the rest.

    The daily-operations primitive the reference performs by rewriting
    whole dated folders (databricks/glofas-forecast-computation.py:110-113
    convention): a re-issued forecast for 2024-01-05 must replace that
    day's data without touching any other day and without the
    read-modify-write of the full table.  `partitionOverwriteMode=dynamic`
    scopes mode="overwrite" to the partitions the incoming frame actually
    contains — set per-write here, not globally, so plain overwrite writes
    elsewhere keep their whole-table semantics.

    Single writer per partition: the caller serialises calls that may
    write the same partition value of one table.  Two concurrent dynamic
    overwrites of one partition are unsupported and unguarded: each job
    commits by deleting the partition directory and renaming its own
    staged copy into place, so the two commits race: one can fail, or one
    writer's rows for that day can be lost.  Concurrent calls whose
    partition values are disjoint are safe: each job stages under its own
    `.spark-staging-<job id>` directory and replaces only the partitions
    it wrote (the re-issue loop of `q_daily_incremental` overlaps two such
    upserts).
    """
    pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*pb)
     .parquet(path))


def publish_directory(spark, src: str, dest: str,
                      overwrite: bool = True) -> None:
    """S12 object-store publish: move a computed output directory to its
    published location through the Hadoop FileSystem API — the engine-side
    equivalent of the reference's `dbutils.fs.rm(dest, recurse=True)` +
    `dbutils.fs.mv(src, dest, recurse=True)` publish step
    (databricks/glofas-forecast-computation.py:306-321).

    Atomicity, honestly stated: same-filesystem overwrite is a two-rename
    swap (old dest aside → src into place → delete the old copy), so on
    HDFS/local each step is atomic and the no-directory window is the gap
    between the two renames — narrower than delete-then-rename, but not
    zero, and object-store renames are copy+delete underneath.  Readers
    needing a zero-gap cutover should publish to a versioned directory
    and flip a pointer/view instead.  Cross-filesystem publishes
    (file:// staging → s3a:// dest) go through FileUtil.copy with
    deleteSource, like dbutils.fs.mv."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_path = jvm.org.apache.hadoop.fs.Path(src)
    dest_path = jvm.org.apache.hadoop.fs.Path(dest)
    # each path resolves through ITS OWN filesystem: resolving a file:/
    # staging dir through the dest's s3a FS throws Wrong-FS
    src_fs = src_path.getFileSystem(conf)
    fs = dest_path.getFileSystem(conf)
    if not src_fs.exists(src_path):
        raise FileNotFoundError(f"publish source missing: {src}")
    old_path = None
    if fs.exists(dest_path):
        if not overwrite:
            raise FileExistsError(f"publish destination exists: {dest}")
        old_path = jvm.org.apache.hadoop.fs.Path(
            dest_path.getParent(),
            "." + dest_path.getName() + ".replaced")
        fs.delete(old_path, True)  # stale leftover from a crashed publish
        if not fs.rename(dest_path, old_path):
            raise IOError(f"publish: could not set aside {dest}")
    parent = dest_path.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    same_fs = src_fs.getUri().equals(fs.getUri())
    if same_fs:
        ok = fs.rename(src_path, dest_path)
    else:
        ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
            src_fs, src_path, fs, dest_path, True, conf)
    if not ok:
        if old_path is not None:
            fs.rename(old_path, dest_path)  # roll the old version back
        raise IOError(f"publish failed: {src} -> {dest}")
    if old_path is not None:
        fs.delete(old_path, True)
