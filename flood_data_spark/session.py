"""SparkSession factory.

Reference analog: databricks/glofas-forecast-computation.py:47-54 (plain
builder.getOrCreate on Databricks).  Ours is tuned for the engine's posture:
AQE on (runtime coalescing + skew-join splitting replaces the reference's
hand-rolled repartition(100, lat, lon)), Arrow enabled for the few pandas-UDF
boundaries, and shuffle partitions sized for the local test harness while
remaining overridable for cluster deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "flood_data_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or os.getenv("SPARK_MASTER", f"local[{os.getenv('SPARK_GRAFT_CPUS', '*')}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet posture: vectorized reads + pushdown are defaults, keep them
        .config("spark.sql.parquet.compression.codec", "snappy")
        # push whole-table MIN/MAX/COUNT to parquet footer statistics.
        # Only effective on DataSource-v2 scans — the session default stays
        # v1, so this fires where the engine opts into v2 explicitly:
        # plans/checks.fast_table_count scopes a v2 read for metadata-only
        # QA counts (no row group decoded)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # tolerate TIMESTAMP(NANOS) parquet (read as ns-epoch long; callers
        # convert — same ns-long convention as the reference's GRIB times)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions
                    or int(os.getenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))))
        .config("spark.driver.memory", os.getenv("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Compile each whole-stage class once per session.  Spark keeps
        # compiled classes in a JVM-wide LRU keyed by the generated source,
        # 100 entries by default (a static conf), and one daily pipeline
        # day (GRIB ingest, run with checks, two writes) generates ~110
        # distinct classes, so the cache thrashed and every day recompiled
        # most of them.  The source also embeds the stage's codegen id in
        # the class name, and adaptive re-planning numbers the same stage
        # differently from one day to the next, so identical code missed
        # the cache under a new name.  Measured on 4 CPUs: a steady-state
        # perfbench daily_cycle day compiled 86-93 classes at the defaults
        # and 0 with both settings below; a small test day 33-41 at the
        # defaults, 17-20 with unnumbered names alone, 0-6 with both.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
