"""Round-16 pins: the four ADVICE fixes (dedup_keep_best string-id
safety, flow_percentile_class NULL hygiene, alert_triggers duplicate
leads, quantile_map exact path probe) plus the round's new operators
(added below as they land)."""
import pytest
from pyspark.sql import functions as F


# --- ADVICE fix 1: dedup_keep_best must not negate the id -------------------


def test_keep_best_string_ids(spark):
    """String doc_ids failed at runtime under ANSI (CAST_INVALID_INPUT
    on -id); numeric-string ids silently came back DOUBLE."""
    from flood_data_spark.datapipe.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [("doc-b", "alpha", 3.0), ("doc-a", "alpha ", 9.0),
         ("doc-c", "ALPHA", 9.0), ("doc-z", "beta", 1.0)],
        "doc_id string, text string, qual double")
    out = dedup_keep_best(docs, "qual")
    # rep_id keeps the input id TYPE verbatim
    assert dict(out.dtypes)["rep_id"] == "string"
    rows = {r.n_copies: r for r in out.collect()}
    # quality 9.0 tie between doc-a and doc-c -> min id wins
    assert rows[3].rep_id == "doc-a" and rows[3].rep_quality == 9.0
    assert rows[1].rep_id == "doc-z" and rows[1].rep_quality == 1.0


def test_keep_best_numeric_string_ids_keep_type(spark):
    from flood_data_spark.datapipe.dedup import dedup_keep_best

    # ids past 2^53: a silent double cast would lose precision
    big = str(2**60 + 1)
    docs = spark.createDataFrame(
        [(big, "x", 1.0), (str(2**60 + 3), "x", 0.5)],
        "doc_id string, text string, qual double")
    r = dedup_keep_best(docs, "qual").collect()[0]
    assert r.rep_id == big and r.n_copies == 2


def test_keep_best_null_quality_loses(spark):
    from flood_data_spark.datapipe.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "x", None), (2, "x", 0.5), (3, "x", None),
         (4, "y", None), (5, "y", None)],
        "doc_id long, text string, qual double")
    rows = {r.n_copies: r for r in
            dedup_keep_best(docs, "qual").collect()}
    # NULL quality is picked only when the whole group is NULL
    assert rows[3].rep_id == 2 and rows[3].rep_quality == 0.5
    assert rows[2].rep_id == 4 and rows[2].rep_quality is None


# --- ADVICE fix 2: flow_percentile_class NULL hygiene ------------------------


def test_flow_percentile_null_values_dropped(spark):
    from flood_data_spark.operators.extremes import flow_percentile_class

    hist = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 3.0), (1, None), (1, None)],
        "cell int, v double")
    cur = spark.createDataFrame(
        [(1, 5.0), (1, None)], "cell int, v double")
    rows = flow_percentile_class(cur, hist, "v", ["cell"]).collect()
    # NULL current classes nowhere (was: 'record low' pct 0.0)
    assert len(rows) == 1
    r = rows[0]
    # NULL historical rows are excluded from n_hist, so 5.0 with
    # #{h < x} == n is reachable as 'record high' again
    assert r.n_hist == 3
    assert r.condition == "record high"
    assert r.pct == 1.0


def test_flow_percentile_all_null_group_drops(spark):
    from flood_data_spark.operators.extremes import flow_percentile_class

    hist = spark.createDataFrame([(1, None), (1, None)],
                                 "cell int, v double")
    cur = spark.createDataFrame([(1, 5.0)], "cell int, v double")
    assert flow_percentile_class(cur, hist, "v", ["cell"]).count() == 0


# --- ADVICE fix 3: alert_triggers duplicate leads ----------------------------


def test_alert_triggers_duplicate_leads_no_fake_persistence(spark):
    from flood_data_spark.operators.threshold import alert_triggers

    # two rows at lead 1 plus one at lead 2: 2 DISTINCT leads, must
    # NOT satisfy min_consecutive=3
    df = spark.createDataFrame(
        [(1, 1, 0.9), (1, 1, 0.8), (1, 2, 0.7)],
        "cell int, lead int, p double")
    out = alert_triggers(df, "p", "lead", ["cell"],
                         threshold=0.3, min_consecutive=3)
    assert out.count() == 0
    # with min_consecutive=2 the run is 2 leads and max_p takes the
    # per-lead max
    r = alert_triggers(df, "p", "lead", ["cell"], threshold=0.3,
                       min_consecutive=2).collect()[0]
    assert r.n_leads == 2 and r.start_o == 1 and r.end_o == 2
    assert r.max_p == pytest.approx(0.9)


def test_alert_triggers_dup_leads_dont_bridge_gaps(spark):
    from flood_data_spark.operators.threshold import alert_triggers

    # duplicates at lead 5 with a gap to lead 7: still two runs
    df = spark.createDataFrame(
        [(1, 5, 0.5), (1, 5, 0.6), (1, 7, 0.5), (1, 8, 0.5)],
        "cell int, lead int, p double")
    runs = alert_triggers(df, "p", "lead", ["cell"], threshold=0.3,
                          min_consecutive=1).collect()
    assert [(r.start_o, r.end_o, r.n_leads) for r in runs] == \
        [(5, 5, 1), (7, 8, 2)]


# --- quantile_map duplicate-heavy groups ------------------------------------


def test_quantile_map_duplicate_heavy_exact_both_paths(spark):
    from flood_data_spark.operators.postprocess import quantile_map

    sim = spark.createDataFrame([(1, 5.0)] * 40 + [(1, 9.0)] * 10,
                                "grp int, v double")
    obs = spark.createDataFrame([(1, float(i)) for i in range(10)],
                                "grp int, v double")

    def key(rows):
        return sorted((r.grp, r.value, round(r.p, 9),
                       None if r.mapped is None else round(r.mapped, 9))
                      for r in rows)

    classic = key(quantile_map(sim, obs, "v", ["grp"]).collect())
    bucketed = key(quantile_map(sim, obs, "v", ["grp"],
                                nbuckets=32).collect())
    assert classic == bucketed


# --- polygon_membership (VERDICT r15 #4: the last J8 gap) --------------------


def _pm_polys(spark, rows):
    return spark.createDataFrame(
        rows, "poly_id int, ring_id int, vertex_idx int, "
              "lon double, lat double")


def _ring(pid, rid, pts):
    return [(pid, rid, i, float(x), float(y))
            for i, (x, y) in enumerate(pts)]


def test_polygon_membership_concave_matches_literal_ladder(spark):
    """The relation form must agree with the constant-outline ladder
    on the same concave C-shape, point by point."""
    from flood_data_spark.functions.geometry import point_in_polygon
    from flood_data_spark.operators.serving import polygon_membership

    c_shape = [(0.1, 0.5), (0.5, 0.5), (0.5, 3.0), (0.2, 3.0),
               (0.2, 6.0), (0.5, 6.0), (0.5, 9.0), (0.1, 9.0)]
    pts = spark.createDataFrame(
        [(i, 0.025 + (i % 20) * 0.05, 0.025 + (i // 20) * 0.5)
         for i in range(200)],
        "pid int, longitude double, latitude double")
    ladder = {(r.pid,) for r in
              point_in_polygon(pts, "latitude", "longitude", c_shape)
              .filter("inside").collect()}
    rel = {(r.pid,) for r in
           polygon_membership(pts, _pm_polys(
               spark, _ring(1, 0, c_shape))).collect()}
    assert ladder == rel and len(rel) > 0


def test_polygon_membership_hole_and_multi_poly(spark):
    from flood_data_spark.operators.serving import polygon_membership

    donut = (_ring(1, 0, [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0),
                          (0.0, 10.0)]) +
             _ring(1, 1, [(3.0, 3.0), (7.0, 3.0), (7.0, 7.0),
                          (3.0, 7.0)]))
    tri = _ring(2, 0, [(4.0, 4.0), (6.0, 4.0), (5.0, 6.0)])
    polys = _pm_polys(spark, donut + tri)
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0),    # in the hole -> only the triangle claims it
         (2, 1.0, 1.0),    # in the donut ring
         (3, 5.0, 4.5),    # in the hole AND the triangle
         (4, 11.0, 5.0),   # outside everything
         (5, 3.5, 6.5)],   # hole, outside triangle -> nothing
        "pid int, longitude double, latitude double")
    got = sorted((r.pid, r.poly_id) for r in
                 polygon_membership(pts, polys, ring_col="ring_id")
                 .collect())
    assert got == [(1, 2), (2, 1), (3, 2)]


def test_polygon_membership_closed_ring_and_duplicates(spark):
    from flood_data_spark.operators.serving import polygon_membership

    # explicitly closed ring (first vertex repeated): zero-length
    # closing edge contributes nothing
    sq = _ring(1, 0, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0),
                      (0.0, 0.0)])
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (1, 1.0, 1.0), (2, 3.0, 1.0)],
        "pid int, longitude double, latitude double")
    rows = polygon_membership(pts, _pm_polys(spark, sq)).collect()
    # duplicate input rows keep their multiplicity
    assert sorted(r.pid for r in rows) == [1, 1]
    assert all(r.n_crossings == 1 for r in rows)


def test_polygon_membership_boundary_half_open(spark):
    """Strict-inequality even-odd = the half-open tiling convention:
    left/bottom boundary claimed, right/top not — identical to the
    literal ladder, so adjacent polygons tile without double-claims."""
    from flood_data_spark.operators.serving import polygon_membership

    sq = _ring(1, 0, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])
    pts = spark.createDataFrame(
        [(1, 0.0, 1.0),   # left edge: claimed
         (2, 2.0, 1.0),   # right edge: not
         (3, 1.0, 2.0),   # top edge: not
         (4, 0.0, 0.0)],  # bottom-left corner: claimed
        "pid int, longitude double, latitude double")
    got = sorted(r.pid for r in
                 polygon_membership(pts, _pm_polys(spark, sq))
                 .collect())
    assert got == [1, 4]


def test_polygon_membership_plan_no_bnlj(spark):
    from flood_data_spark.operators.serving import polygon_membership

    sq = _ring(1, 0, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0)], "pid int, longitude double, latitude double")
    plan = polygon_membership(pts, _pm_polys(spark, sq)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- dm_test_hac (VERDICT r15 #6) --------------------------------------------


def _dm_hac_numpy(la, lb, max_lag):
    """Reference implementation of the exact integer HAC chain."""
    import math

    qd = [int(math.copysign(math.floor(abs(a) * 1e6 + 0.5), a))
          - int(math.copysign(math.floor(abs(b) * 1e6 + 0.5), b))
          for a, b in zip(la, lb)]
    n, s = len(qd), sum(qd)
    e = [n * q - s for q in qd]
    L = max_lag
    cks = [sum(e[t] * e[t - k] for t in range(k, n))
           for k in range(L + 1)]
    vp = (L + 1) * cks[0] + 2 * sum(
        (L + 1 - k) * cks[k] for k in range(1, L + 1))
    qv = math.floor(math.sqrt(vp * (L + 1)) + 0.5)
    if qv == 0:
        return n, None
    num = s * n * (L + 1) * 10**6
    half = (abs(num) * 2 + qv) // (2 * qv)
    return n, math.copysign(half, num) / 1e6


def test_dm_hac_matches_reference_chain(spark):
    import numpy as np

    from flood_data_spark.operators.verification import dm_test_hac

    rng = np.random.default_rng(42)
    # AR(1) loss differential: d_t = 0.8 d_{t-1} + eps
    n = 200
    d = np.zeros(n)
    for t in range(1, n):
        d[t] = 0.8 * d[t - 1] + rng.normal()
    la = np.abs(d) + 1.0 + 0.3 * d
    lb = np.abs(d) + 1.0
    rows = [(1, t, float(la[t]), float(lb[t])) for t in range(n)]
    df = spark.createDataFrame(rows, "g int, t int, la double, lb double")
    got = dm_test_hac(df, "la", "lb", "t", ["g"], max_lag=5).collect()[0]
    want_n, want_dm = _dm_hac_numpy(la, lb, 5)
    assert got.n == want_n
    assert got.dm_hac == pytest.approx(want_dm, abs=1e-6)


def test_dm_hac_ar1_wider_than_lag0(spark):
    """Positive serial correlation must WIDEN the variance: |DM_hac|
    < |DM_lag0|.  On white noise the two agree closely."""
    import numpy as np

    from flood_data_spark.operators.verification import (dm_test,
                                                         dm_test_hac)

    rng = np.random.default_rng(7)
    n = 400

    def frame(d):
        la = 2.0 + d
        lb = np.full(n, 1.7)
        rows = [(1, t, float(la[t]), float(lb[t])) for t in range(n)]
        return spark.createDataFrame(
            rows, "g int, t int, la double, lb double")

    # AR(1), rho=0.7
    ar = np.zeros(n)
    for t in range(1, n):
        ar[t] = 0.7 * ar[t - 1] + rng.normal(0, 0.5)
    df_ar = frame(ar)
    dm0 = dm_test(df_ar, "la", "lb", ["g"]).collect()[0].dm_stat
    dmh = dm_test_hac(df_ar, "la", "lb", "t", ["g"],
                      max_lag=8).collect()[0].dm_hac
    assert abs(dmh) < abs(dm0) * 0.75

    # white noise: HAC within ~15% of lag-0
    wn = rng.normal(0, 0.5, n)
    df_wn = frame(wn)
    dm0 = dm_test(df_wn, "la", "lb", ["g"]).collect()[0].dm_stat
    dmh = dm_test_hac(df_wn, "la", "lb", "t", ["g"],
                      max_lag=8).collect()[0].dm_hac
    assert abs(dmh - dm0) < 0.15 * abs(dm0)


def test_dm_hac_lag0_matches_dm_test_shape(spark):
    """max_lag=0 reduces to the lag-0 statistic (same value up to the
    two chains' independent sqrt-seam rounding)."""
    from flood_data_spark.operators.verification import (dm_test,
                                                         dm_test_hac)

    rows = [(1, t, float(2 + (t % 5)), float(1.5 + ((t * 3) % 7)))
            for t in range(50)]
    df = spark.createDataFrame(rows, "g int, t int, la double, lb double")
    a = dm_test(df, "la", "lb", ["g"]).collect()[0]
    b = dm_test_hac(df, "la", "lb", "t", ["g"], max_lag=0).collect()[0]
    assert a.n == b.n and a.mean_diff == b.mean_diff
    assert b.dm_hac == pytest.approx(a.dm_stat, rel=1e-5)


def test_dm_hac_zero_variance_null(spark):
    from flood_data_spark.operators.verification import dm_test_hac

    df = spark.createDataFrame([(1, t, 2.0, 1.0) for t in range(10)],
                               "g int, t int, la double, lb double")
    r = dm_test_hac(df, "la", "lb", "t", ["g"], max_lag=3).collect()[0]
    assert r.dm_hac is None and r.mean_diff == pytest.approx(1.0)


# --- OPERATORS.md registry province map (VERDICT r15 #8) ---------------------


def test_operators_index_covers_registry():
    """OPERATORS.md must list exactly the live registry's gates with
    the live oracle classes, and regenerating it must be a no-op, so
    neither the index nor its file:line anchors can go stale."""
    import os
    import re
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry

    md = open(os.path.join(repo, "OPERATORS.md")).read()
    rows = re.findall(r"^\| `(q_\w+)` \| .* \| (value|rows-only) \| ",
                      md, re.M)
    listed = {name: oracle for name, oracle in rows}
    queries = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert set(listed) == queries, (
        sorted(queries - set(listed)), sorted(set(listed) - queries))
    for name, oracle in listed.items():
        want = "value" if name in oracles else "rows-only"
        assert oracle == want, (name, oracle, want)
    # the committed count line matches too
    assert f"**{len(queries)}** gates" in md
    # and so does every other cell: run scripts/gen_operators_index.py
    sys.path.insert(0, os.path.join(repo, "scripts"))
    from gen_operators_index import build_index
    fresh = build_index()
    stale = [(old, new) for old, new in
             zip(md.splitlines(), fresh.splitlines()) if old != new]
    assert md == fresh, stale[:5]


# --- zonal_stats (round 16: basin aggregates on polygon_membership) ----------


def test_zonal_stats_exact(spark):
    from flood_data_spark.operators.serving import zonal_stats

    sq = _ring(1, 0, [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
    tri = _ring(2, 0, [(0.5, 0.5), (3.5, 0.5), (2.0, 3.0)])
    pts = spark.createDataFrame(
        [(1.0, 1.0, 10.0), (2.0, 1.0, 20.0), (3.0, 3.0, 31.0),
         (5.0, 5.0, 99.0)],          # outside everything
        "longitude double, latitude double, v double")
    rows = {r.poly_id: r for r in
            zonal_stats(pts, _pm_polys(spark, sq + tri), "v")
            .collect()}
    # square contains all three inner points
    assert rows[1].n_cells == 3
    assert rows[1].v_min == 10.0 and rows[1].v_max == 31.0
    assert rows[1].v_mean == pytest.approx(61.0 / 3, abs=1e-6)
    # triangle contains the two low points only ((3,3) is outside)
    assert rows[2].n_cells == 2
    assert rows[2].v_mean == pytest.approx(15.0)


def test_zonal_stats_null_values(spark):
    from flood_data_spark.operators.serving import zonal_stats

    sq = _ring(1, 0, [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
    pts = spark.createDataFrame(
        [(1.0, 1.0, 10.0), (2.0, 1.0, None)],
        "longitude double, latitude double, v double")
    r = zonal_stats(pts, _pm_polys(spark, sq), "v").collect()[0]
    # NULL counts toward n_cells but not the stats
    assert r.n_cells == 2 and r.v_min == 10.0 and r.v_mean == 10.0


# --- differential fuzz: polygon_membership vs a pure-Python even-odd ---------


def _py_even_odd(px, py, rings):
    """Reference even-odd crossing count over all rings (same strict
    inequalities as the Spark expression)."""
    n = 0
    for ring in rings:
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            if (y1 > py) != (y2 > py):
                cx = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                if px < cx:
                    n += 1
    return n


def _random_star_polygon(rng, cx, cy, n_verts, rmin, rmax):
    """Star-shaped (hence simple) polygon around a center: sorted
    angles, random radii."""
    import math
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n_verts))
    return [(cx + rng.uniform(rmin, rmax) * math.cos(a),
             cy + rng.uniform(rmin, rmax) * math.sin(a))
            for a in angles]


@pytest.mark.parametrize("seed", [11, 47, 83])
def test_fuzz_polygon_membership(spark, seed):
    import random

    from flood_data_spark.operators.serving import polygon_membership

    rng = random.Random(seed)
    polys, rings_by_pid = [], {}
    for pid in range(1, 5):
        outer = _random_star_polygon(rng, rng.uniform(-3, 3),
                                     rng.uniform(-3, 3),
                                     rng.randint(3, 9), 1.0, 3.0)
        rings = [outer]
        if rng.random() < 0.5:
            # a hole strictly inside the outer ring's inradius
            cx = sum(x for x, _ in outer) / len(outer)
            cy = sum(y for _, y in outer) / len(outer)
            rings.append(_random_star_polygon(rng, cx, cy,
                                              rng.randint(3, 6),
                                              0.1, 0.4))
        rings_by_pid[pid] = rings
        for rid, ring in enumerate(rings):
            polys += [(pid, rid, i, x, y)
                      for i, (x, y) in enumerate(ring)]
    pts = [(i, rng.uniform(-7, 7), rng.uniform(-7, 7))
           for i in range(150)]
    got = {(r.pid, r.poly_id): r.n_crossings
           for r in polygon_membership(
               spark.createDataFrame(
                   pts, "pid int, longitude double, latitude double"),
               _pm_polys(spark, polys), ring_col="ring_id",
               bucket_size=rng.choice([0.5, 1.0, 2.5])).collect()}
    want = {}
    for i, px, py in pts:
        for pid, rings in rings_by_pid.items():
            n = _py_even_odd(px, py, rings)
            if n % 2 == 1:
                want[(i, pid)] = n
    assert got == want and len(want) > 0


@pytest.mark.parametrize("seed", [3, 19])
def test_fuzz_dm_hac(spark, seed):
    import random

    from flood_data_spark.operators.verification import dm_test_hac

    rng = random.Random(seed)
    n = rng.randint(40, 120)
    lag = rng.randint(0, 6)
    d = [0.0]
    for _ in range(n - 1):
        d.append(0.6 * d[-1] + rng.gauss(0, 1))
    la = [abs(x) + 2.0 + 0.2 * x for x in d]
    lb = [abs(x) + 1.9 for x in d]
    rows = [(1, t, la[t], lb[t]) for t in range(n)]
    got = dm_test_hac(
        spark.createDataFrame(rows,
                              "g int, t int, la double, lb double"),
        "la", "lb", "t", ["g"], max_lag=lag).collect()[0]
    want_n, want_dm = _dm_hac_numpy(la, lb, lag)
    assert got.n == want_n
    if want_dm is None:
        assert got.dm_hac is None
    else:
        assert got.dm_hac == pytest.approx(want_dm, abs=1e-6)


# --- polygon_area / polygon_box_intersects (geometry suite close-out) --------


def test_polygon_area_even_odd_nesting(spark):
    """Holes subtract, depth-2 islands add back, CW and CCW rings are
    equivalent (orientation-free even-odd), triangles halve."""
    from flood_data_spark.operators.serving import polygon_area

    rows = (_ring(1, 0, [(0, 0), (1, 0), (1, 1), (0, 1)]) +
            _ring(2, 0, [(10, 0), (13, 0), (13, 3), (10, 3)]) +
            _ring(2, 1, [(11, 1), (12, 1), (12, 2), (11, 2)]) +
            _ring(3, 0, [(20, 0), (25, 0), (25, 5), (20, 5)]) +
            # CW hole (reversed winding) and a depth-2 island
            _ring(3, 1, [(21, 1), (21, 4), (24, 4), (24, 1)]) +
            _ring(3, 2, [(22, 2), (23, 2), (23, 3), (22, 3)]) +
            _ring(4, 0, [(30, 0), (31, 0), (31, 1)]))
    got = {r.poly_id: (r.n_rings, r.area)
           for r in polygon_area(_pm_polys(spark, rows),
                                 ring_col="ring_id").collect()}
    assert got[1] == (1, 1.0)
    assert got[2] == (2, 8.0)
    assert got[3] == (3, 17.0)
    assert got[4] == (1, 0.5)


def test_polygon_area_closed_ring_and_negatives(spark):
    """Explicitly closed rings add a zero-length edge (no area term);
    negative coordinates quantize sign-correctly."""
    from flood_data_spark.operators.serving import polygon_area

    sq = _ring(1, 0, [(-2.0, -2.0), (-1.0, -2.0), (-1.0, -1.0),
                      (-2.0, -1.0), (-2.0, -2.0)])
    got = polygon_area(_pm_polys(spark, sq),
                       ring_col="ring_id").collect()[0]
    assert got.n_rings == 1 and got.area == 1.0


def test_polygon_area_fuzz_vs_shoelace(spark):
    """Random simple star polygons with optional holes vs a pure-python
    shoelace on the SAME micro-quantized vertices."""
    import random

    from flood_data_spark.operators.serving import polygon_area

    rng = random.Random(7)
    rows, want = [], {}
    for pid in range(1, 6):
        outer = _random_star_polygon(rng, rng.uniform(-3, 3),
                                     rng.uniform(-3, 3),
                                     rng.randint(3, 9), 1.0, 3.0)
        rings = [outer]
        if rng.random() < 0.6:
            cx = sum(x for x, _ in outer) / len(outer)
            cy = sum(y for _, y in outer) / len(outer)
            rings.append(_random_star_polygon(rng, cx, cy,
                                              rng.randint(3, 6),
                                              0.1, 0.4))
        area = 0.0
        for depth, ring in enumerate(rings):
            q = [(float(int(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)
                  / 1e6,
                  float(int(abs(y) * 1e6 + 0.5)) * (1 if y >= 0 else -1)
                  / 1e6) for x, y in ring]
            a2 = sum(q[i][0] * q[(i + 1) % len(q)][1]
                     - q[(i + 1) % len(q)][0] * q[i][1]
                     for i in range(len(q)))
            area += (-1) ** depth * abs(a2) / 2
        want[pid] = area
        for rid, ring in enumerate(rings):
            rows += _ring(pid, rid, ring)
    got = {r.poly_id: r.area
           for r in polygon_area(_pm_polys(spark, rows),
                                 ring_col="ring_id").collect()}
    assert set(got) == set(want)
    for pid in want:
        assert got[pid] == pytest.approx(want[pid], abs=1e-9)


def _boxes(spark, rows):
    return spark.createDataFrame(
        rows, "box_id int, lon_min double, lon_max double, "
              "lat_min double, lat_max double")


def test_polygon_box_intersects_semantics(spark):
    """Closed-set intersects: interior containment without boundary
    contact, edge-graze, corner-touch, box-contains-polygon, inside a
    hole (no intersection), fully outside."""
    from flood_data_spark.operators.serving import polygon_box_intersects

    donut = (_ring(2, 0, [(10.0, 0.0), (13.0, 0.0), (13.0, 3.0),
                          (10.0, 3.0)]) +
             _ring(2, 1, [(11.0, 1.0), (12.0, 1.0), (12.0, 2.0),
                          (11.0, 2.0)]))
    boxes = _boxes(spark, [
        (1, 11.2, 11.8, 1.2, 1.8),    # fully inside the hole
        (2, 10.2, 10.8, 1.2, 1.8),    # interior of the filled ring
        (3, 13.0, 13.5, 0.2, 0.8),    # shares the edge x=13
        (4, 14.0, 14.5, 0.2, 0.8),    # outside
        (5, 13.0, 13.6, 3.0, 3.6),    # single-point corner touch (13,3)
        (6, 9.0, 14.0, -1.0, 4.0),    # contains the whole polygon
        (7, 11.9, 12.3, 1.4, 1.6)])   # straddles the hole boundary
    got = {r.box_id: (r.touches_boundary, r.center_inside)
           for r in polygon_box_intersects(
               boxes, _pm_polys(spark, donut),
               ring_col="ring_id").collect()}
    assert 1 not in got and 4 not in got
    assert got[2] == (False, True)
    assert got[3][0] and got[5][0] and got[6][0] and got[7][0]


def test_polygon_box_intersects_supersets_membership(spark):
    """Every (cell, poly) the center-membership test claims must also
    intersect — and boundary-grazing cells appear ONLY here."""
    from flood_data_spark.operators.serving import (
        polygon_box_intersects, polygon_membership)

    tri = _ring(1, 0, [(0.05, 0.2), (0.45, 0.2), (0.25, 2.2)])
    cells = [(i, 0.025 + (i % 10) * 0.05, 0.025 + (i // 10) * 0.05)
             for i in range(500)]
    pts = spark.createDataFrame(
        cells, "pid int, longitude double, latitude double")
    boxes = _boxes(spark, [(i, x - 0.025, x + 0.025, y - 0.025,
                            y + 0.025) for i, x, y in cells])
    member = {r.pid for r in
              polygon_membership(pts, _pm_polys(spark, tri)).collect()}
    inter = {r.box_id for r in polygon_box_intersects(
        boxes, _pm_polys(spark, tri)).collect()}
    assert member and member < inter


def test_polygon_box_intersects_far_bucket(spark):
    """A box whose CENTER buckets outside the polygon's bbox buckets
    still meets it when it overlaps (the max_box_span pad contract)."""
    from flood_data_spark.operators.serving import polygon_box_intersects

    sq = _ring(1, 0, [(0.0, 0.0), (0.9, 0.0), (0.9, 0.9), (0.0, 0.9)])
    # center at lon 1.25 -> bucket 1; polygon bbox buckets = {0}
    boxes = _boxes(spark, [(1, 0.85, 1.65, 0.1, 0.2)])
    got = polygon_box_intersects(boxes, _pm_polys(spark, sq),
                                 bucket_size=1.0,
                                 max_box_span=0.8).collect()
    assert [r.box_id for r in got] == [1]


def test_polygon_box_intersects_plan_no_bnlj(spark):
    from flood_data_spark.operators.serving import polygon_box_intersects

    sq = _ring(1, 0, [(0.0, 0.0), (0.9, 0.0), (0.9, 0.9), (0.0, 0.9)])
    boxes = _boxes(spark, [(1, 0.1, 0.2, 0.1, 0.2)])
    plan = (polygon_box_intersects(boxes, _pm_polys(spark, sq))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- zonal_stats_weighted (area-weighted via relational S-H clipping) --------


def test_zonal_weighted_fractions_and_holes(spark):
    """Hand-computable coverages: full/half/quarter cells, a cell
    containing the whole donut (hole subtracts), a cell straddling the
    hole boundary, NULL values keep area but leave the mean."""
    from flood_data_spark.operators.serving import zonal_stats_weighted

    rings = (_ring(1, 0, [(0, 0), (2, 0), (2, 2), (0, 2)]) +
             _ring(2, 0, [(10, 0), (13, 0), (13, 3), (10, 3)]) +
             _ring(2, 1, [(11, 1), (12, 1), (12, 2), (11, 2)]))
    boxes = spark.createDataFrame(
        [(1, 0.0, 1.0, 0.0, 1.0, 10.0),
         (2, -0.5, 0.5, 0.0, 1.0, 20.0),
         (3, 1.5, 3.0, 1.5, 3.0, 40.0),
         (4, 5.0, 6.0, 5.0, 6.0, 99.0),
         (5, 9.0, 14.0, -1.0, 4.0, 7.0),
         (6, 10.5, 11.5, 1.25, 1.75, 3.0),
         (7, 0.2, 0.8, 0.2, 0.8, None)],
        "box_id int, lon_min double, lon_max double, lat_min double, "
        "lat_max double, val double")
    g = {r.poly_id: r for r in zonal_stats_weighted(
        boxes, _pm_polys(spark, rings), "val", ring_col="ring_id",
        max_box_span=5.0).collect()}
    assert g[1].n_cells == 4 and g[1].area == pytest.approx(2.11)
    assert g[1].v_wmean == pytest.approx(
        (10 * 1 + 20 * 0.5 + 40 * 0.25) / 1.75, abs=1e-6)
    assert g[2].n_cells == 2 and g[2].area == pytest.approx(8.25)
    assert g[2].v_wmean == pytest.approx(
        (7 * 8 + 3 * 0.25) / 8.25, abs=1e-6)
    assert len(g) == 2  # polygons with zero covered area are absent


def test_zonal_weighted_rect_fuzz_exact_overlap(spark):
    """Axis-aligned rectangle polygons: the covered area has a closed
    form (interval-overlap product) with NO clipping rounding — the
    S-H chain must reproduce it exactly at micro resolution."""
    import random

    from flood_data_spark.operators.serving import zonal_stats_weighted

    rng = random.Random(11)

    def q(v):
        return float(int(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1) / 1e6

    rows, boxes, rects = [], [], {}
    for pid in range(1, 8):
        x0 = round(rng.uniform(-5, 5), 3)
        y0 = round(rng.uniform(-5, 5), 3)
        w = round(rng.uniform(0.3, 3.0), 3)
        h = round(rng.uniform(0.3, 3.0), 3)
        rows += _ring(pid, 0, [(x0, y0), (x0 + w, y0),
                               (x0 + w, y0 + h), (x0, y0 + h)])
        rects[pid] = (x0, y0, x0 + w, y0 + h)
        for b in range(4):
            bx = round(rng.uniform(-6, 6), 3)
            by = round(rng.uniform(-6, 6), 3)
            bw = round(rng.uniform(0.2, 2.5), 3)
            bh = round(rng.uniform(0.2, 2.5), 3)
            boxes.append((pid * 10 + b, bx, bx + bw, by, by + bh, 1.0))
    # every box scores against EVERY overlapping polygon
    want = {pid: 0.0 for pid in rects}
    for pid, (x0, y0, x1, y1) in rects.items():
        for _, bx0, bx1, by0, by1, _v in boxes:
            ox = max(0.0, min(q(x1), q(bx1)) - max(q(x0), q(bx0)))
            oy = max(0.0, min(q(y1), q(by1)) - max(q(y0), q(by0)))
            want[pid] += ox * oy
    got = {r.poly_id: r.area for r in zonal_stats_weighted(
        spark.createDataFrame(
            boxes, "box_id int, lon_min double, lon_max double, "
                   "lat_min double, lat_max double, val double"),
        _pm_polys(spark, rows), "val", ring_col="ring_id",
        bucket_size=2.0, max_box_span=2.5).collect()}
    for pid, area in want.items():
        assert got.get(pid, 0.0) == pytest.approx(area, abs=1e-9), pid


def _py_clip_area(ring, bxlo, bxhi, bylo, byhi):
    """Pure-python mirror of the micro-integer S-H chain."""
    def q(v):
        return int(abs(v) * 1e6 + 0.5) * (1 if v >= 0 else -1)

    def idiv(num, den):
        if den < 0:
            num, den = -num, -den
        a = 2 * abs(num) + den
        r = a // (2 * den)
        return r if num >= 0 else -r

    pts = [(q(x), q(y)) for x, y in ring]
    for axis, ge, b in (("x", True, q(bxlo)), ("x", False, q(bxhi)),
                        ("y", True, q(bylo)), ("y", False, q(byhi))):
        out = []
        for i in range(len(pts)):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % len(pts)]
            c1, c2 = (x1, x2) if axis == "x" else (y1, y2)
            in1 = (c1 >= b) if ge else (c1 <= b)
            in2 = (c2 >= b) if ge else (c2 <= b)
            if in1 != in2:
                o1, o2 = (y1, y2) if axis == "x" else (x1, x2)
                oc = o1 + idiv((o2 - o1) * (b - c1), c2 - c1)
                ipt = (b, oc) if axis == "x" else (oc, b)
            if in2:
                if not in1:
                    out.append(ipt)
                out.append((x2, y2))
            elif in1:
                out.append(ipt)
        pts = out
        if not pts:
            return 0.0
    a2 = sum(pts[i][0] * pts[(i + 1) % len(pts)][1]
             - pts[(i + 1) % len(pts)][0] * pts[i][1]
             for i in range(len(pts)))
    return abs(a2) / 2e12


@pytest.mark.parametrize("seed", [5, 23])
def test_zonal_weighted_fuzz_vs_python_clip(spark, seed):
    """Random star polygons × random boxes vs the pure-python mirror
    of the identical micro-integer S-H arithmetic."""
    import random

    from flood_data_spark.operators.serving import zonal_stats_weighted

    rng = random.Random(seed)
    rows, boxes, ring_by_pid = [], [], {}
    for pid in range(1, 6):
        ring = _random_star_polygon(rng, rng.uniform(-2, 2),
                                    rng.uniform(-2, 2),
                                    rng.randint(3, 9), 0.5, 2.5)
        rows += _ring(pid, 0, ring)
        ring_by_pid[pid] = ring
        for b in range(5):
            bx, by = rng.uniform(-4, 4), rng.uniform(-4, 4)
            bw, bh = rng.uniform(0.3, 2.0), rng.uniform(0.3, 2.0)
            boxes.append((pid * 10 + b, bx, bx + bw, by, by + bh, 1.0))
    want = {pid: sum(_py_clip_area(ring, b[1], b[2], b[3], b[4])
                     for b in boxes)
            for pid, ring in ring_by_pid.items()}
    got = {r.poly_id: r.area for r in zonal_stats_weighted(
        spark.createDataFrame(
            boxes, "box_id int, lon_min double, lon_max double, "
                   "lat_min double, lat_max double, val double"),
        _pm_polys(spark, rows), "val", ring_col="ring_id",
        bucket_size=2.0, max_box_span=2.0).collect()}
    for pid, area in want.items():
        if area > 0:
            assert got[pid] == pytest.approx(area, abs=1e-9), pid
        else:
            assert got.get(pid, 0.0) == pytest.approx(0.0, abs=1e-9)


def test_zonal_weighted_plan_no_bnlj(spark):
    from flood_data_spark.operators.serving import zonal_stats_weighted

    sq = _ring(1, 0, [(0.0, 0.0), (0.9, 0.0), (0.9, 0.9), (0.0, 0.9)])
    boxes = spark.createDataFrame(
        [(1, 0.1, 0.2, 0.1, 0.2, 1.0)],
        "box_id int, lon_min double, lon_max double, lat_min double, "
        "lat_max double, val double")
    plan = (zonal_stats_weighted(boxes, _pm_polys(spark, sq), "val")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_polygon_membership_row_id_col_matches_default(spark):
    """row_id_col (the streaming-safe surrogate) must reproduce the
    monotonically_increasing_id path exactly on unique-id input."""
    from flood_data_spark.operators.serving import polygon_membership

    tri = _ring(1, 0, [(0.05, 0.2), (0.45, 0.2), (0.25, 2.2)])
    pts = spark.createDataFrame(
        [(i, 0.025 + (i % 10) * 0.05, 0.025 + (i // 10) * 0.05)
         for i in range(300)],
        "pid int, longitude double, latitude double")
    a = sorted((r.pid, r.poly_id, r.n_crossings) for r in
               polygon_membership(pts, _pm_polys(spark, tri)).collect())
    b = sorted((r.pid, r.poly_id, r.n_crossings) for r in
               polygon_membership(pts, _pm_polys(spark, tri),
                                  row_id_col="pid").collect())
    assert a == b and len(a) > 0


# --- polygon_polygon_intersects (general geometry-set join) ------------------


def test_polygon_polygon_intersects_semantics(spark):
    """Donut × squares: inside-the-hole (no hit), inside-the-ring
    (b_in_a), contains-everything (a_in_b), boundary overlap,
    single-point corner touch, far away."""
    from flood_data_spark.operators.serving import (
        polygon_polygon_intersects)

    a = (_ring(1, 0, [(0, 0), (10, 0), (10, 10), (0, 10)]) +
         _ring(1, 1, [(3, 3), (7, 3), (7, 7), (3, 7)]) +
         _ring(2, 0, [(50, 50), (52, 50), (51, 52)]))
    bs = (_ring(10, 0, [(4, 4), (6, 4), (6, 6), (4, 6)]) +
          _ring(11, 0, [(0.5, 0.5), (2, 0.5), (2, 2), (0.5, 2)]) +
          _ring(12, 0, [(-5, -5), (15, -5), (15, 15), (-5, 15)]) +
          _ring(13, 0, [(8, 8), (12, 8), (12, 12), (8, 12)]) +
          _ring(14, 0, [(10, 10), (11, 10), (11, 11), (10, 11)]) +
          _ring(15, 0, [(30, 30), (31, 30), (31, 31), (30, 31)]))
    got = {(r.poly_a, r.poly_b): (r.touches_boundary, r.a_in_b,
                                  r.b_in_a)
           for r in polygon_polygon_intersects(
               _pm_polys(spark, a), _pm_polys(spark, bs),
               ring_col="ring_id", bucket_size=5.0).collect()}
    assert (1, 10) not in got
    assert got[(1, 11)] == (False, False, True)
    assert got[(1, 12)] == (False, True, False)
    assert got[(1, 13)][0] and got[(1, 14)][0]
    assert all(k[0] != 2 for k in got) and (1, 15) not in got


def test_polygon_polygon_intersects_fuzz_vs_python(spark):
    """Random star polygons both sides vs a pure-python oracle built
    from the same micro-quantized decomposition (seg-intersect on all
    edge pairs + even-odd rep containment)."""
    import random

    from flood_data_spark.operators.serving import (
        polygon_polygon_intersects)

    rng = random.Random(31)
    A, B = {}, {}
    rows_a, rows_b = [], []
    for pid in range(1, 7):
        ring = _random_star_polygon(rng, rng.uniform(-4, 4),
                                    rng.uniform(-4, 4),
                                    rng.randint(3, 8), 0.5, 2.0)
        A[pid] = ring
        rows_a += _ring(pid, 0, ring)
    for pid in range(20, 28):
        ring = _random_star_polygon(rng, rng.uniform(-4, 4),
                                    rng.uniform(-4, 4),
                                    rng.randint(3, 8), 0.3, 1.5)
        B[pid] = ring
        rows_b += _ring(pid, 0, ring)

    def q(v):
        return int(abs(v) * 1e6 + 0.5) * (1 if v >= 0 else -1)

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    def onseg(px, py, qx, qy, rx, ry):
        return (min(px, qx) <= rx <= max(px, qx)
                and min(py, qy) <= ry <= max(py, qy))

    def seg(a, b, c, d):
        o1 = orient(*a, *b, *c)
        o2 = orient(*a, *b, *d)
        o3 = orient(*c, *d, *a)
        o4 = orient(*c, *d, *b)
        if ((o1 > 0) != (o2 > 0)) and o1 != 0 and o2 != 0 and \
                ((o3 > 0) != (o4 > 0)) and o3 != 0 and o4 != 0:
            return True
        return ((o1 == 0 and onseg(*a, *b, *c))
                or (o2 == 0 and onseg(*a, *b, *d))
                or (o3 == 0 and onseg(*c, *d, *a))
                or (o4 == 0 and onseg(*c, *d, *b)))

    def inside(pt, ring):
        n = 0
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            if (y1 > pt[1]) != (y2 > pt[1]):
                lhs = (pt[0] - x1) * (y2 - y1)
                rhs = (x2 - x1) * (pt[1] - y1)
                if (lhs < rhs) if y2 > y1 else (lhs > rhs):
                    n += 1
        return n % 2 == 1

    want = set()
    for pa, ra in A.items():
        qa = [(q(x), q(y)) for x, y in ra]
        for pb, rb in B.items():
            qb = [(q(x), q(y)) for x, y in rb]
            ea = [(qa[i], qa[(i + 1) % len(qa)]) for i in range(len(qa))]
            eb = [(qb[i], qb[(i + 1) % len(qb)]) for i in range(len(qb))]
            hit = any(seg(a1, a2, b1, b2)
                      for a1, a2 in ea for b1, b2 in eb)
            if not hit:
                hit = inside(min(qa), qb) or inside(min(qb), qa)
            if hit:
                want.add((pa, pb))
    got = {(r.poly_a, r.poly_b) for r in polygon_polygon_intersects(
        _pm_polys(spark, rows_a), _pm_polys(spark, rows_b),
        ring_col="ring_id", bucket_size=rng.choice([1.0, 2.0])
    ).collect()}
    assert got == want and len(want) > 0


def test_polygon_polygon_intersects_plan_no_bnlj(spark):
    from flood_data_spark.operators.serving import (
        polygon_polygon_intersects)

    a = _ring(1, 0, [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    bs = _ring(2, 0, [(0.5, 0.5), (2.0, 0.5), (2.0, 2.0), (0.5, 2.0)])
    plan = (polygon_polygon_intersects(_pm_polys(spark, a),
                                       _pm_polys(spark, bs))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- round 16: ROC curve / AUC ----------------------------------------------


def test_roc_auc_equals_mann_whitney_with_ties(spark):
    """The trapezoid over ALL distinct thresholds must equal the
    tie-aware Mann-Whitney form (gt + eq/2)/(P*N) — the textbook
    identity that pins both the cumulative window and the
    (FP_0, TP_0) = (0, 0) virtual start."""
    import numpy as np

    from flood_data_spark.operators.verification import roc_auc

    rng = np.random.default_rng(13)
    o = rng.integers(0, 2, 400)
    p = np.round(np.clip(0.35 * o + rng.random(400) * 0.65, 0, 1), 2)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, o)], "p double, o int")
    pos, neg = p[o == 1], p[o == 0]
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    want = (gt + eq / 2) / (len(pos) * len(neg))
    row = roc_auc(df, "p", "o").collect()[0]
    assert row.positives == len(pos) and row.negatives == len(neg)
    assert abs(row.auc - want) < 1.5e-6


def test_roc_known_forecasts(spark):
    from flood_data_spark.operators.verification import roc_auc, roc_curve

    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "p double, o int")
    assert roc_auc(perfect, "p", "o").collect()[0].auc == 1.0
    anti = spark.createDataFrame(
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "p double, o int")
    assert roc_auc(anti, "p", "o").collect()[0].auc == 0.0
    # constant forecast: one threshold, curve jumps (0,0)->(1,1),
    # trapezoid = the no-skill diagonal 0.5
    flat = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "p double, o int")
    assert roc_auc(flat, "p", "o").collect()[0].auc == 0.5
    # curve endpoints: loosest threshold warns always
    rows = roc_curve(perfect, "p", "o").collect()
    assert rows[-1].pod == 1.0 and rows[-1].pofd == 1.0
    assert rows[0].hits == 1 and rows[0].false_alarms == 0


def test_roc_degenerate_and_null_hygiene(spark):
    from flood_data_spark.operators.verification import roc_auc, roc_curve

    # all-positive group: POFD and AUC undefined -> NULL, never 0/0
    allpos = spark.createDataFrame(
        [(0.9, 1), (0.4, 1)], "p double, o int")
    row = roc_auc(allpos, "p", "o").collect()[0]
    assert row.auc is None and row.negatives == 0
    assert all(r.pofd is None for r in
               roc_curve(allpos, "p", "o").collect())
    # NULL probability / outcome rows are dropped, not counted
    with_nulls = spark.createDataFrame(
        [(0.9, 1), (None, 1), (0.2, None), (0.1, 0)],
        "p double, o int")
    row = roc_auc(with_nulls, "p", "o").collect()[0]
    assert row.n == 2 and row.auc == 1.0


def test_roc_binning_bounds_the_curve(spark):
    import numpy as np

    from flood_data_spark.operators.verification import roc_auc, roc_curve

    rng = np.random.default_rng(7)
    o = rng.integers(0, 2, 600)
    p = np.clip(0.3 * o + rng.random(600) * 0.7, 0, 1)  # continuous
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, o)], "p double, o int")
    exact = roc_curve(df, "p", "o").collect()
    binned = roc_curve(df, "p", "o", n_bins=10).collect()
    assert len(exact) > 11 >= len(binned)
    # the binned AUC approximates the exact one (same data, coarser
    # threshold grid)
    a_exact = roc_auc(df, "p", "o").collect()[0].auc
    a_bin = roc_auc(df, "p", "o", n_bins=10).collect()[0].auc
    assert abs(a_exact - a_bin) < 0.05


def test_roc_grouped_matches_per_group_runs(spark):
    from flood_data_spark.operators.verification import roc_auc

    rows = [("a", 0.9, 1), ("a", 0.3, 0), ("a", 0.7, 1), ("a", 0.6, 0),
            ("b", 0.2, 1), ("b", 0.8, 0), ("b", 0.5, 1), ("b", 0.5, 0)]
    df = spark.createDataFrame(rows, "g string, p double, o int")
    grouped = {r.g: r.auc for r in
               roc_auc(df, "p", "o", keys=["g"]).collect()}
    for g in ("a", "b"):
        solo = roc_auc(df.filter(F.col("g") == g), "p", "o") \
            .collect()[0].auc
        assert grouped[g] == solo, g


def test_materialize_polys_memoises_per_object(spark):
    """r17: two operators consuming the SAME polygon DataFrame object
    with the same column set reuse one checkpointed relation; a
    different column set or a different object materializes afresh."""
    from flood_data_spark.operators.serving import _materialize_polys

    polys = spark.createDataFrame(
        [(1, 0, 0, 0.0, 0.0), (1, 0, 1, 1.0, 0.0), (1, 0, 2, 0.0, 1.0)],
        "poly_id int, ring_id int, vertex_idx int, lon double, lat double")
    a = _materialize_polys(polys, "poly_id", "ring_id", "vertex_idx",
                           "lon", "lat")
    b = _materialize_polys(polys, "poly_id", "ring_id", "vertex_idx",
                           "lon", "lat")
    assert a is b
    c = _materialize_polys(polys, "poly_id", "lon", "lat")
    assert c is not a
    fresh = _materialize_polys(polys.select("*"), "poly_id", "lon", "lat")
    assert fresh is not c
