"""Golden tests for tendency / intensity / peak-timing ladders — models
reference test/test_spark_transforms.py:87-525 boundary coverage."""

import datetime

from flood_data_spark.operators.intensity import flood_intensity
from flood_data_spark.operators.peak_timing import flood_peak_timing
from flood_data_spark.operators.tendency import flood_tendency

D = datetime.date


def _tendency_input(spark):
    # Columns consumed: latitude, longitude, median_dis, control_dis,
    # max_dis, min_dis.  One row per (cell, step); control constant per cell.
    rows = []
    # cell U: max_median 120 > 1.10*100 → increasing
    rows += [(0.025, 0.025, s, m, 100.0, m + 5, m - 5)
             for s, m in [(1, 100.0), (2, 120.0)]]
    # cell D: min 85 <= 90, max 105 <= 110 → decreasing
    rows += [(0.075, 0.025, s, m, 100.0, m + 5, m - 5)
             for s, m in [(1, 105.0), (2, 85.0)]]
    # cell C boundary: max exactly 110 (not > 110), min exactly 91 (> 90) → stagnant
    rows += [(0.125, 0.025, s, m, 100.0, m + 5, m - 5)
             for s, m in [(1, 110.0), (2, 91.0)]]
    # cell C2 boundary: min exactly 90 would be decreasing, but max 111 > 110 → increasing
    rows += [(0.175, 0.025, s, m, 100.0, m + 5, m - 5)
             for s, m in [(1, 111.0), (2, 90.0)]]
    return spark.createDataFrame(
        rows, ["latitude", "longitude", "step", "median_dis", "control_dis",
               "max_dis", "min_dis"])


def test_tendency_ladder(spark):
    out = {(r.latitude, r.longitude): r.tendency
           for r in flood_tendency(_tendency_input(spark)).collect()}
    assert out[(0.025, 0.025)] == "U"
    assert out[(0.075, 0.025)] == "D"
    assert out[(0.125, 0.025)] == "C"
    assert out[(0.175, 0.025)] == "U"


def test_tendency_aggregates(spark):
    r = {(x.latitude, x.longitude): x
         for x in flood_tendency(_tendency_input(spark)).collect()}[(0.025, 0.025)]
    assert r.max_median_dis == 120.0
    assert r.min_median_dis == 100.0
    assert r.control_dis == 100.0
    assert r.max_max_dis == 125.0
    assert r.min_min_dis == 95.0


def _intensity_input(spark):
    rows = [
        # (cell) → p20, p5, p2 per step; classification uses per-cell max
        (0.025, 0.025, 1, 0.30, 0.5, 0.9),   # P: p20 max 0.30 >= 0.30
        (0.025, 0.025, 2, 0.10, 0.2, 0.3),
        (0.075, 0.025, 1, 0.29, 0.30, 0.9),  # R: p20 < .3, p5 hits .30
        (0.075, 0.025, 2, 0.00, 0.10, 0.2),
        (0.125, 0.025, 1, 0.00, 0.29, 0.30),  # Y
        (0.175, 0.025, 1, 0.00, 0.00, 0.29),  # G
    ]
    return spark.createDataFrame(
        rows, ["latitude", "longitude", "step",
               "p_above_20y", "p_above_5y", "p_above_2y"])


def test_intensity_ladder(spark):
    out = {(r.latitude, r.longitude): r.intensity
           for r in flood_intensity(_intensity_input(spark)).collect()}
    assert out[(0.025, 0.025)] == "P"
    assert out[(0.075, 0.025)] == "R"
    assert out[(0.125, 0.025)] == "Y"
    assert out[(0.175, 0.025)] == "G"


def _peak_input(spark, cell_lat, series):
    """series: list of (step, p20, p5, p2, median). valid_for = issued+step-1."""
    issued = D(2024, 1, 1)
    rows = [
        (cell_lat, 0.025, issued,
         issued + datetime.timedelta(days=s - 1), s, p20, p5, p2, med)
        for (s, p20, p5, p2, med) in series
    ]
    return spark.createDataFrame(
        rows, ["latitude", "longitude", "issued_on", "valid_for", "step",
               "p_above_20y", "p_above_5y", "p_above_2y", "median_dis"])


def _flat(n, p20=0.0, p5=0.0, p2=0.0, med=10.0):
    return [(s, p20, p5, p2, med) for s in range(1, n + 1)]


def test_peak_timing_black_border(spark):
    # severity-1 peak at step 2 → BB
    series = _flat(30, p2=0.5, med=10.0)
    series[1] = (2, 0.9, 0.9, 0.9, 10.0)
    out = flood_peak_timing(_peak_input(spark, 0.025, series)).first()
    assert out.peak_step == 2
    assert out.peak_day == D(2024, 1, 2)
    assert out.peak_timing == "BB"


def test_peak_timing_grayed_color(spark):
    # peak beyond day 10, early-window p2 max < 0.30 → GC
    series = _flat(30, p2=0.1, med=10.0)
    series[19] = (20, 0.9, 0.9, 0.9, 10.0)
    out = flood_peak_timing(_peak_input(spark, 0.075, series)).first()
    assert out.peak_step == 20
    assert out.peak_timing == "GC"


def test_peak_timing_gray_border_mid(spark):
    # peak at step 7 (4..10) → GB regardless of early window
    series = _flat(30, p2=0.1, med=10.0)
    series[6] = (7, 0.9, 0.9, 0.9, 10.0)
    out = flood_peak_timing(_peak_input(spark, 0.125, series)).first()
    assert out.peak_step == 7
    assert out.peak_timing == "GB"


def test_peak_timing_late_peak_with_hot_start_is_gray_border(spark):
    # peak at step 20 but early-window p2 reaches 0.30 → GB (not GC)
    series = _flat(30, p2=0.30, med=10.0)
    series[19] = (20, 0.9, 0.9, 0.9, 10.0)
    out = flood_peak_timing(_peak_input(spark, 0.175, series)).first()
    assert out.peak_step == 20
    assert out.peak_timing == "GB"


def test_peak_timing_all_gray_falls_back_to_max_median(spark):
    # no step crosses any threshold (severity 4 everywhere) → peak is the
    # max-median step
    series = [(s, 0.0, 0.0, 0.0, 10.0 + (5.0 if s == 12 else 0.0))
              for s in range(1, 31)]
    out = flood_peak_timing(_peak_input(spark, 0.225, series)).first()
    assert out.peak_step == 12
    assert out.peak_timing == "GC"  # >10 and cold start


def test_peak_timing_deterministic_tiebreak(spark):
    # identical (condition, median) on steps 5 and 6 → earliest step wins
    series = _flat(30, p2=0.5, med=10.0)
    out = flood_peak_timing(_peak_input(spark, 0.275, series)).first()
    assert out.peak_step == 1


def test_peak_timing_matches_window_formulation(spark):
    """The peak row is the first of ORDER BY condition ASC, median_dis
    DESC NULLS LAST, step ASC NULLS FIRST per cell (the q_peak_timing
    oracle shape), on the orderings a per-cell argmax can get wrong."""
    nan = float("nan")
    cells = {
        # severity tie and median tie on steps 4 and 6 → earliest wins
        0.025: [(1, 0.0, 0.0, 0.5, 3.0), (4, 0.0, 0.5, 0.5, 9.0),
                (6, 0.0, 0.5, 0.5, 9.0), (9, 0.0, 0.0, 0.0, 20.0)],
        # the worst severity has a null median: it loses to any value
        0.075: [(2, 0.9, 0.9, 0.9, None), (5, 0.9, 0.9, 0.9, 1.0),
                (7, 0.0, 0.0, 0.5, 50.0)],
        # NaN sorts above every number, so a NaN median wins its tie
        0.125: [(3, 0.0, 0.5, 0.5, 100.0), (12, 0.0, 0.5, 0.5, nan),
                (14, 0.0, 0.0, 0.0, nan)],
        # a null step sorts first among equal (condition, median)
        0.175: [(1, 0.0, 0.0, 0.5, 8.0), (None, 0.0, 0.0, 0.5, 8.0),
                (11, 0.0, 0.0, 0.1, 30.0)],
        # +0.0 and -0.0 are one value: the earlier step wins
        0.225: [(15, 0.0, 0.0, 0.0, 0.0), (13, 0.0, 0.0, 0.0, -0.0),
                (2, 0.0, 0.0, 0.0, -1.0)],
    }
    issued = D(2024, 1, 1)
    rows = [(lat, 0.025, issued,
             None if s is None else issued + datetime.timedelta(days=s - 1),
             s, p20, p5, p2, med)
            for lat, series in cells.items()
            for (s, p20, p5, p2, med) in series]
    df = spark.createDataFrame(
        rows, "latitude double, longitude double, issued_on date, "
              "valid_for date, step int, p_above_20y double, "
              "p_above_5y double, p_above_2y double, median_dis double")
    df.createOrReplaceTempView("peak_pin")
    want = spark.sql("""
        WITH cond AS (
            SELECT *, CASE WHEN p_above_20y >= 0.3 THEN 1
                           WHEN p_above_5y >= 0.3 THEN 2
                           WHEN p_above_2y >= 0.3 THEN 3
                           ELSE 4 END AS condition
            FROM peak_pin),
        win AS (
            SELECT *,
                   row_number() OVER (PARTITION BY latitude, longitude
                       ORDER BY condition ASC, median_dis DESC NULLS LAST,
                                step ASC NULLS FIRST) AS rn,
                   max(CASE WHEN step BETWEEN 1 AND 10 THEN p_above_2y END)
                       OVER (PARTITION BY latitude, longitude) AS max_2y_start
            FROM cond)
        SELECT latitude, longitude, issued_on,
               step AS peak_step, valid_for AS peak_day,
               CASE WHEN step BETWEEN 1 AND 3 THEN 'BB'
                    WHEN step > 10 AND max_2y_start < 0.30 THEN 'GC'
                    ELSE 'GB' END AS peak_timing
        FROM win WHERE rn = 1""")
    got = flood_peak_timing(df)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
    peaks = {r.latitude: r.peak_step for r in got.collect()}
    assert peaks == {0.025: 4, 0.075: 5, 0.125: 12, 0.175: None, 0.225: 13}
