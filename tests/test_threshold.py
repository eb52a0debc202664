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


# Adversarial value groups for the exact-quantile pins: NaN (sorts last),
# +-inf, nulls, an all-null group, a 1-member group, duplicate-heavy groups
# (equal interpolation endpoints) and signed zeros.  Signed zeros compare by
# value only: F.percentile's sign follows which zero its hash map saw first.
_EDGE_GROUPS = [
    [float("nan"), 1.0, 2.0, float("nan")],
    [float("nan")] * 3,
    [float("-inf"), 0.0, float("inf")],
    [float("inf"), float("inf"), 1.0],
    [float("-inf"), float("-inf")],
    [None, 3.0, None, 1.0, 2.0],
    [None, None],
    [5.0],
    [2.0] * 7 + [3.0] * 5 + [2.5],
    [0.1] * 9 + [0.7] * 9,
    [1 / 3] * 6 + [2 / 3] * 6,
    [0.0, -0.0, 0.0, -0.0],
]


def _edge_values(seed=23, n_random=40):
    """(group id, value) rows: the edge groups plus random 1..51-member
    groups with ties and nulls."""
    import random

    rnd = random.Random(seed)
    rows = [(g, v) for g, vals in enumerate(_EDGE_GROUPS) for v in vals]
    for g in range(len(_EDGE_GROUPS), len(_EDGE_GROUPS) + n_random):
        for _ in range(rnd.choice([1, 2, 3, 5, 50, 51])):
            rows.append((g, rnd.choice([
                rnd.uniform(0, 500),
                float(round(rnd.uniform(0, 20))),      # ties
                None if rnd.random() < 0.1 else rnd.uniform(-5, 5)])))
    return rows


_VALUE_TYPES = ("double", "float", "int")


def _typed(spark, value_type):
    from pyspark.sql import functions as F

    rows = _edge_values()
    if value_type == "int":   # no NaN / inf in integers
        rows = [(g, None if v is None or v != v or abs(v) == float("inf")
                 else float(round(v))) for g, v in rows]
    return spark.createDataFrame(rows, "g int, v double").select(
        "g", F.col("v").cast(value_type).alias("v"))


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("value_type", _VALUE_TYPES)
def test_exact_summary_matches_percentile(spark, value_type):
    """The exact summary equals a direct F.percentile / min / max aggregate
    on adversarial groups, for float, double and integer values, with name
    or Column group keys; cells missing from the threshold table score 0."""
    from pyspark.sql import functions as F

    vals = _typed(spark, value_type)
    fc = (vals.select((F.col("g") % 20).cast("double").alias("latitude"),
                      (F.col("g") / 20).cast("int").cast("double")
                      .alias("longitude"),
                      F.col("v").alias("dis24"))
          .withColumn("issued_on", F.lit("2024-01-01").cast("date"))
          .withColumn("valid_for", F.lit("2024-01-02").cast("date"))
          .withColumn("step", F.lit(24)))
    thr = spark.createDataFrame(
        [(float(i), 0.0, 1.0 + i, 150.0, 260.0) for i in range(20)]
        + [(float(i), 2.0, 80.0, 150.0 + i, 260.0) for i in range(20)],
        "latitude double, longitude double, threshold_2y double, "
        "threshold_5y double, threshold_20y double")  # longitude 1 → NULL

    years = (2, 5, 20)
    gk = ["latitude", "longitude", "issued_on", "valid_for", "step"]
    joined = fc.join(F.broadcast(thr), ["latitude", "longitude"], "left")
    q = F.percentile("dis24", F.array(*[F.lit(p) for p in (.25, .5, .75)]))
    want = (joined.groupBy(*gk).agg(
        *[F.avg(F.when(F.col("dis24") >= F.col(f"threshold_{y}y"),
                       F.lit(1)).otherwise(F.lit(0)))
          .alias(f"p_above_{y}y") for y in years],
        F.min("dis24").alias("min_dis"), q.alias("_q"),
        F.max("dis24").alias("max_dis"))
        .select(*gk, *[f"p_above_{y}y" for y in years], "min_dis",
                *[F.element_at("_q", i + 1).alias(n) for i, n in
                  enumerate(("Q1_dis", "median_dis", "Q3_dis"))],
                "max_dis"))
    assert want.count() == 52
    for keys in (gk, [F.col(k) for k in gk]):
        got = ensemble_threshold_summary(fc, thr, accuracy_mode="exact",
                                         group_keys=keys)
        assert got.schema == want.schema
        _assert_same_rows(got, want)


@pytest.mark.parametrize("value_type", _VALUE_TYPES)
def test_rank_quantiles_matches_percentile(spark, value_type):
    """rank_quantiles equals a direct F.percentile aggregate: NULL values
    are skipped, an all-NULL group keeps its row with NULL quantiles, and
    n_rows counts every row, NULLs included."""
    from pyspark.sql import functions as F

    from flood_data_spark.operators.stats import rank_quantiles

    vals = _typed(spark, value_type)
    probs = (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    names = [f"q{i}" for i in range(len(probs))]
    want = vals.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.percentile("v", F.lit(p)).alias(n)
          for p, n in zip(probs, names)])
    all_null = _EDGE_GROUPS.index([None, None])
    for keys in (["g"], [F.col("g")]):
        got = rank_quantiles(vals, keys, "v", probs, names)
        assert got.columns == want.columns
        assert [f.dataType for f in got.schema] == \
            [f.dataType for f in want.schema]
        _assert_same_rows(got, want)
        row = got.filter(F.col("g") == all_null).first()
        assert row.n_rows == 2 and row.q3 is None
