"""Golden tests for ensemble_threshold_summary — models reference
test/test_spark_transforms.py:528-615 (both accuracy modes, odd-count
quantile interpolation, missing-threshold cells → zero probabilities, the
reference's when/otherwise(0) semantics)."""

import datetime

import pytest

from flood_data_spark.operators.threshold import ensemble_threshold_summary

D = datetime.date


def _forecast(spark):
    issued = D(2024, 1, 1)
    valid = D(2024, 1, 1)
    rows = []
    # cell A (0.025, 0.025), step 1: 10 members, dis in 10..100
    for i, dis in enumerate([10.0, 20.0, 30.0, 40.0, 50.0,
                             60.0, 70.0, 80.0, 90.0, 100.0]):
        rows.append((i, 0.025, 0.025, issued, 1, valid, dis))
    # cell B (0.075, 0.025), step 1: 5 members (odd count pins interpolation)
    for i, dis in enumerate([1.0, 2.0, 3.0, 4.0, 100.0]):
        rows.append((i, 0.075, 0.025, issued, 1, valid, dis))
    # cell C (0.125, 0.025): no threshold row exists → null p_above_*
    for i, dis in enumerate([5.0, 15.0]):
        rows.append((i, 0.125, 0.025, issued, 1, valid, dis))
    return spark.createDataFrame(
        rows, ["number", "latitude", "longitude", "issued_on", "step",
               "valid_for", "dis24"])


def _thresholds(spark):
    return spark.createDataFrame(
        [(0.025, 0.025, 30.0, 60.0, 95.0),
         (0.075, 0.025, 2.0, 3.0, 4.0)],
        ["latitude", "longitude", "threshold_2y", "threshold_5y",
         "threshold_20y"])


def test_exact_mode_probabilities_and_quantiles(spark):
    out = ensemble_threshold_summary(
        _forecast(spark), _thresholds(spark), accuracy_mode="exact")
    rows = {(r.latitude, r.longitude): r for r in out.collect()}

    a = rows[(0.025, 0.025)]
    # 8 of 10 members >= 30; 5 of 10 >= 60; 1 of 10 >= 95
    assert a.p_above_2y == pytest.approx(0.8)
    assert a.p_above_5y == pytest.approx(0.5)
    assert a.p_above_20y == pytest.approx(0.1)
    assert a.min_dis == 10.0 and a.max_dis == 100.0
    # exact percentile, linear interpolation over 10 ordered values:
    # Q1 at rank 3.25 → 30+0.25*10; median 55; Q3 77.5
    assert a.Q1_dis == pytest.approx(32.5)
    assert a.median_dis == pytest.approx(55.0)
    assert a.Q3_dis == pytest.approx(77.5)

    b = rows[(0.075, 0.025)]
    # odd count (5): median is the middle element exactly
    assert b.median_dis == pytest.approx(3.0)
    assert b.Q1_dis == pytest.approx(2.0)
    assert b.Q3_dis == pytest.approx(4.0)
    assert b.p_above_2y == pytest.approx(0.8)

    c = rows[(0.125, 0.025)]
    # left join with no threshold row → NOT exceeded (0.0), matching the
    # reference's when(cond, 1).otherwise(0) indicator
    # (flood/spark/transforms.py:121-129); the 5-number summary still computes
    assert c.p_above_2y == 0.0 and c.p_above_5y == 0.0 and c.p_above_20y == 0.0
    assert c.min_dis == 5.0 and c.max_dis == 15.0


def test_output_schema_and_grain(spark):
    out = ensemble_threshold_summary(
        _forecast(spark), _thresholds(spark), accuracy_mode="exact")
    assert out.columns == [
        "latitude", "longitude", "issued_on", "valid_for", "step",
        "p_above_2y", "p_above_5y", "p_above_20y",
        "min_dis", "Q1_dis", "median_dis", "Q3_dis", "max_dis"]
    assert out.count() == 3  # one row per (cell, step)


def test_approx_mode_runs_and_brackets(spark):
    out = ensemble_threshold_summary(
        _forecast(spark), _thresholds(spark), accuracy_mode="approx")
    a = {(r.latitude, r.longitude): r for r in out.collect()}[(0.025, 0.025)]
    assert 10.0 <= a.median_dis <= 100.0
    assert a.p_above_2y == pytest.approx(0.8)


def test_bad_accuracy_mode_rejected(spark):
    with pytest.raises(ValueError):
        ensemble_threshold_summary(_forecast(spark), _thresholds(spark),
                                   accuracy_mode="bogus")


def test_exact_rank_path_matches_percentile_bitwise(spark):
    """r16 regression pin: the rank-based exact path must stay
    bit-identical to the F.percentile formulation it replaced, on
    adversarial shapes — NULL values, ties, singleton groups, all-NULL
    groups, cells missing from the threshold table (NULL thresholds)."""
    import random

    from pyspark.sql import functions as F

    from flood_data_spark.operators.threshold import _quantiles_array

    random.seed(23)
    rows = []
    for g in range(120):
        n = random.choice([1, 2, 3, 5, 50, 101])
        for _ in range(n):
            if g % 17 == 0:
                v = None
            else:
                v = random.choice([
                    random.uniform(0, 500),
                    float(round(random.uniform(0, 500))),  # ties
                    None if random.random() < 0.1
                    else random.uniform(0, 500)])
            rows.append((float(g % 40), float(g // 40), v))
    fc = spark.createDataFrame(
        rows, "latitude double, longitude double, dis24 double") \
        .withColumn("issued_on", F.lit("2024-01-01").cast("date")) \
        .withColumn("valid_for", F.lit("2024-01-02").cast("date")) \
        .withColumn("step", F.lit(24))
    thr = spark.createDataFrame(
        [(float(i), float(j), 80.0 + i, 150.0 + j, 260.0)
         for i in range(40) for j in range(2)],  # row 2 cells → NULL thr
        "latitude double, longitude double, threshold_2y double, "
        "threshold_5y double, threshold_20y double")

    years = (2, 5, 20)
    joined = fc.join(F.broadcast(thr), ["latitude", "longitude"], "left")
    aggs = [F.avg(F.when(F.col("dis24") >= F.col(f"threshold_{y}y"),
                         F.lit(1)).otherwise(F.lit(0)))
            .alias(f"p_above_{y}y") for y in years]
    aggs += [F.min("dis24").alias("min_dis"),
             _quantiles_array("dis24", (0.25, 0.50, 0.75), "exact")
             .alias("_q"),
             F.max("dis24").alias("max_dis")]
    gk = ["latitude", "longitude", "issued_on", "valid_for", "step"]
    old = (joined.groupBy(*gk).agg(*aggs)
           .select(*gk, "p_above_2y", "p_above_5y", "p_above_20y",
                   "min_dis",
                   F.element_at("_q", 1).alias("Q1_dis"),
                   F.element_at("_q", 2).alias("median_dis"),
                   F.element_at("_q", 3).alias("Q3_dis"),
                   "max_dis"))
    new = ensemble_threshold_summary(fc, thr, accuracy_mode="exact",
                                     exact_impl="ranks")
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # and the default exact path IS the percentile formulation
    dflt = ensemble_threshold_summary(fc, thr, accuracy_mode="exact")
    assert dflt.schema == old.schema
    assert dflt.exceptAll(old).count() == 0
    assert old.exceptAll(dflt).count() == 0
    # Column group keys are one more input, on both named routes
    for impl in ("percentile", "ranks"):
        by_col = ensemble_threshold_summary(
            fc, thr, accuracy_mode="exact",
            group_keys=[F.col(k) for k in gk], exact_impl=impl)
        assert by_col.schema == old.schema, impl
        assert by_col.exceptAll(old).count() == 0, impl
        assert old.exceptAll(by_col).count() == 0, impl
