"""Scale-posture tests: salted joins preserve semantics, bucketed tables
join without a shuffle, partitioned writes prune by date."""

import pytest
from pyspark.sql import functions as F

from flood_data_spark.plans.scale import bucketed_write, salted_join


@pytest.fixture()
def skewed(spark):
    # key 1 dominates: 900 of 1000 rows
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("payload"))
    small = spark.createDataFrame(
        [(1, "hot"), (950, "cold"), (999, "cold")], "k long, tag string")
    return big, small


def test_salted_join_matches_plain_join(spark, skewed):
    big, small = skewed
    plain = big.join(small, "k").select("k", "payload", "tag")
    salted = salted_join(big, small, "k", salt_buckets=8) \
        .select("k", "payload", "tag")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
    assert plain.count() == 902


def test_salted_left_join_keeps_unmatched(spark, skewed):
    big, small = skewed
    out = salted_join(big, small, "k", how="left", salt_buckets=4)
    assert out.count() == 1000
    assert out.filter(F.col("tag").isNull()).count() == 98


def test_salt_actually_splits_hot_key_even_for_identical_rows(spark):
    # 900 byte-identical rows under one key: a content-only hash would put
    # them all in ONE salt bucket; the id-mixed salt must spread them
    big = spark.range(900).select(F.lit(1).alias("k"),
                                  F.lit(42).alias("payload"))
    small = spark.createDataFrame([(1, "hot")], "k long, tag string")
    out = salted_join(big, small, "k", salt_buckets=8)
    assert out.count() == 900
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id(),
                                   *[F.col(c) for c in big.columns]),
                        F.lit(8)).cast("int"))
    assert salted.select("_salt").distinct().count() == 8


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    left = spark.range(500).select(
        F.col("id").alias("cell"), (F.col("id") * 1.5).alias("a"))
    right = spark.range(500).select(
        F.col("id").alias("cell"), (F.col("id") * 2.5).alias("b"))
    bucketed_write(left, "t_bleft", ["cell"], num_buckets=4,
                   sort_cols=["cell"], path=str(tmp_path / "bleft"))
    bucketed_write(right, "t_bright", ["cell"], num_buckets=4,
                   sort_cols=["cell"], path=str(tmp_path / "bright"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bleft").join(
                spark.table("t_bright"), "cell")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_partitioned_write_prunes_by_date(spark, tmp_path):
    from flood_data_spark.sources.parquet import write_parquet

    df = spark.createDataFrame(
        [(0.075, 0.025, "2024-01-01", 1.0),
         (0.025, 0.125, "2024-01-01", 2.0),
         (0.025, 0.025, "2024-01-02", 3.0)],
        "latitude double, longitude double, issued_on string, v double")
    write_parquet(df, str(tmp_path / "out"), partition_by=["issued_on"])
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 3
    # partition pruning: only day-2 files scanned for the date predicate
    pruned = back.filter(F.col("issued_on") == "2024-01-02")
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(issued_on" in plan


def test_salted_join_rejects_outer_variants(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError, match="salted_join does not preserve"):
        salted_join(big, small, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="right")


def test_upsert_partitions_replaces_only_incoming(spark, tmp_path):
    """Dynamic partition overwrite: re-issuing one day replaces that day,
    other days' files untouched."""
    from flood_data_spark.sources.parquet import upsert_partitions

    path = str(tmp_path / "upsert")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 1, 30.0)],
        "issued_on string, cell int, v double")
    upsert_partitions(base, path, "issued_on")

    revised = spark.createDataFrame(
        [("2024-01-02", 1, 99.0), ("2024-01-02", 2, 98.0)],
        "issued_on string, cell int, v double")
    upsert_partitions(revised, path, "issued_on")

    # partition-column type inference reads the string back as a date
    got = {(str(r.issued_on), r.cell): r.v
           for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1): 10.0, ("2024-01-01", 2): 20.0,
                   ("2024-01-02", 1): 99.0, ("2024-01-02", 2): 98.0}


def test_incremental_daily_composition(spark, tmp_path):
    """The composed daily-operations contract (upsert_partitions +
    summarize_increment + merge_summaries): a stale day is re-issued
    into the store, the running state folds ONLY that day's increment,
    and merged state == from-scratch recompute == ground truth — and
    the increment read is partition-PRUNED (the scan's partition filter
    carries the day predicate, so history files are never opened)."""
    from flood_data_spark.plans.scale import (merge_summaries,
                                              summarize_increment,
                                              summary_stats)
    from flood_data_spark.sources.parquet import upsert_partitions

    path = str(tmp_path / "store")
    mk = lambda rows: spark.createDataFrame(
        rows, "day string, cell int, v double")
    upsert_partitions(mk([("d0", 1, 10.0), ("d0", 2, 20.0)]), path, "day")
    upsert_partitions(mk([("d1", 1, 30.0)]), path, "day")
    # stale d2 issue, then the re-issue
    upsert_partitions(mk([("d2", 1, 999.0), ("d2", 2, 999.0)]),
                      path, "day")
    base = merge_summaries(
        summarize_increment(spark.read.parquet(path)
                            .filter("day = 'd0'"), ("cell",), "v"),
        summarize_increment(spark.read.parquet(path)
                            .filter("day = 'd1'"), ("cell",), "v"),
        ("cell",))
    upsert_partitions(mk([("d2", 1, 50.0), ("d2", 2, 60.0)]), path, "day")
    inc_src = spark.read.parquet(path).filter("day = 'd2'")
    # partition pruning: the day predicate sits in PartitionFilters
    plan = inc_src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "d2" in plan.split(
        "PartitionFilters:")[1].split("]")[0]
    inc = summarize_increment(inc_src, ("cell",), "v")
    merged = {r.cell: (r.n, r.sum_micro, r.min_value, r.max_value)
              for r in summary_stats(
                  merge_summaries(base, inc, ("cell",))).collect()}
    recomputed = {r.cell: (r.n, r.sum_micro, r.min_value, r.max_value)
                  for r in summary_stats(summarize_increment(
                      spark.read.parquet(path), ("cell",), "v"))
                  .collect()}
    truth = {1: (3, 90_000_000, 10.0, 50.0),
             2: (2, 80_000_000, 20.0, 60.0)}
    assert merged == recomputed == truth


def test_salted_join_balances_planted_skew(spark):
    """The scale argument itself, measured: with one hot key holding 50% of
    the large side and broadcast/AQE-skew-splitting off (the regime salting
    exists for — a small side too big to broadcast, a shuffle AQE cannot
    re-split), the plain shuffle join lands the hot key's entire output in
    ONE reduce partition, while the salted join spreads it across the salt
    buckets.  Asserted on actual post-shuffle row distribution, which is
    deterministic, rather than wall-clock, which is not."""
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.enabled": "false",
             # enough reducers that salt-value hash collisions don't mask
             # the distribution difference being measured
             "spark.sql.shuffle.partitions": "32"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n = 40_000
        big = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"))
        small = (spark.range(n)
                 .select(F.col("id").alias("k"),
                         (F.col("id") % 7).alias("tag")))

        def max_partition_share(df):
            sizes = (df.select(F.spark_partition_id().alias("pid"))
                     .groupBy("pid").count().collect())
            total = sum(r["count"] for r in sizes)
            return max(r["count"] for r in sizes) / total

        plain = big.join(small, "k")
        salted = salted_join(big, small, "k", salt_buckets=32)
        assert salted.count() == plain.count() == n
        # hot key = 50% of output: plain concentrates it in one partition
        assert max_partition_share(plain) >= 0.5
        # salted splits it across the buckets; ideal is 1/32 ~ 0.03 —
        # allow generous slack for hash unevenness and still show >3x
        # better balance than plain
        assert max_partition_share(salted) <= 0.15

        # plan assert: the exchange hashes on (k, _salt), not k alone
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan and "hashpartitioning" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_publish_directory_moves_and_overwrites(spark, tmp_path):
    """S12 publish: compute into staging, move into place via the Hadoop
    FS API; re-publish replaces the whole destination atomically."""
    from flood_data_spark.sources.parquet import publish_directory

    staging, dest = str(tmp_path / "staging"), str(tmp_path / "pub" / "day1")
    spark.range(5).write.parquet(staging)
    publish_directory(spark, staging, dest)
    assert spark.read.parquet(dest).count() == 5
    import os
    assert not os.path.exists(staging)

    spark.range(3).write.parquet(staging)
    publish_directory(spark, staging, dest)
    assert spark.read.parquet(dest).count() == 3  # replaced, not merged

    with pytest.raises(FileNotFoundError):
        publish_directory(spark, str(tmp_path / "nope"), dest)
    spark.range(1).write.parquet(staging)
    with pytest.raises(FileExistsError):
        publish_directory(spark, staging, dest, overwrite=False)


def test_join_fanout_report(spark):
    from pyspark.sql import functions as F
    from flood_data_spark.plans.scale import join_fanout_report

    left = spark.createDataFrame(
        [("hot",)] * 90 + [("warm",)] * 8 + [("cold",)] * 2
        + [("left_only",)], "k string")
    right = spark.createDataFrame(
        [("hot",)] * 5 + [("warm",)] * 2 + [("cold",)] * 1
        + [("right_only",)], "k string")
    rows = join_fanout_report(left, right, "k", top_n=2).collect()
    assert [(r.k, r.fanout) for r in rows] == [("hot", 450), ("warm", 16)]
    # shares are over ALL matched keys (450 + 16 + 2), not just top_n
    assert rows[0].fanout_share == round(450 / 468, 6)
    # one-sided keys are omitted (inner semantics, zero output rows)
    all_rows = join_fanout_report(left, right, "k", top_n=10).collect()
    assert {r.k for r in all_rows} == {"hot", "warm", "cold"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="top_n"):
        join_fanout_report(left, right, "k", top_n=0)


def test_join_fanout_recommendation(spark):
    from flood_data_spark.plans.scale import join_fanout_report

    left = spark.createDataFrame(
        [("hot",)] * 90 + [("warm",)] * 8 + [("cold",)] * 2,
        "k string")
    right = spark.createDataFrame(
        [("hot",)] * 5 + [("warm",)] * 2 + [("cold",)] * 1, "k string")
    # right side under the broadcast threshold: every key says so
    rows = join_fanout_report(left, right, "k", top_n=10).collect()
    assert {r.recommendation for r in rows} == {"broadcast"}
    # force the shuffle regime: the hot key (share 450/468 = 0.96)
    # crosses 2/shuffle_partitions; the tail keys do not
    rows = {r.k: r for r in join_fanout_report(
        left, right, "k", top_n=10, shuffle_partitions=32,
        broadcast_threshold_rows=0).collect()}
    assert rows["hot"].recommendation == "salt"
    assert rows["warm"].recommendation == "none"
    assert rows["cold"].recommendation == "none"
    with pytest.raises(ValueError, match="shuffle_partitions"):
        join_fanout_report(left, right, "k", shuffle_partitions=0)
