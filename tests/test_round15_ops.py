"""Round-15 pins: the four ADVICE fixes (fim id-type robustness, SPI
probit clamp, Pettitt p<=1, seasonal-MK pair-free groups) plus the
round's new operators (added below as they land)."""
import pytest
from pyspark.sql import functions as F


# --- ADVICE fix 1: fim_transform cuts from md5(id string) ------------------


def test_fim_string_and_negative_ids(spark):
    from flood_data_spark.datapipe.curation import fim_transform

    # String ids: the old LCG-on-cast(long) scheme emitted NULL cuts
    # here; md5-derived seeds must transform them like any other id.
    text = "abcdefghijklmnopqrstuvwxyz" * 4
    rows = [(f"doc-{i}", text) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = fim_transform(df, rate=1.0).collect()
    assert len(out) == 120
    for r in out:
        assert r.fim_applied is True
        assert r.prefix is not None and r.middle is not None
        assert r.prefix + r.middle + r.suffix == text
        assert r.fim_text.startswith("<|fim_pre|>")
    # Negative integral ids: positive md5-derived seeds, valid cuts.
    neg = spark.createDataFrame([(-7, text), (-123456789, text)],
                                "doc_id long, text string")
    for r in fim_transform(neg, rate=1.0).collect():
        assert r.fim_applied is True
        assert r.prefix + r.middle + r.suffix == text


# --- ADVICE fix 2: spi_empirical position clamp -----------------------------


def test_spi_clamp_huge_group(spark):
    from flood_data_spark.operators.extremes import spi_empirical

    # Above ~1.1M rows the exact Gringorten micro ratio rounds to
    # 0/1e6 at the extremes; the clamp must keep spi non-NULL there.
    n = 1_200_000
    df = (spark.range(n)
          .select(F.lit(1).alias("cell"), F.col("id").alias("t"),
                  F.col("id").cast("double").alias("v")))
    out = spi_empirical(df, "v", ["cell"], "t")
    edge = (out.filter((F.col("t") == 0) | (F.col("t") == n - 1))
            .collect())
    assert len(edge) == 2
    for r in edge:
        assert r.spi is not None
        assert abs(r.spi) > 4.0          # ~ +-Phi^-1(1e-6)
        assert 0.0 < r.p < 1.0 or r.p in (0.0, 1.0)  # p reported raw


def test_spi_small_group_unchanged(spark):
    from flood_data_spark.operators.extremes import spi_empirical

    # Below the clamp threshold the clamp is a no-op: median of an
    # odd sample sits near SPI ~ 0, extremes symmetric.
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(9)], "cell int, t int, v double")
    rows = {r.t: r for r in
            spi_empirical(df, "v", ["cell"], "t").collect()}
    assert abs(rows[4].spi) < 0.1
    assert rows[0].spi < -1.0 and rows[8].spi > 1.0
    assert abs(rows[0].spi + rows[8].spi) < 1e-6


# --- ADVICE fix 3: pettitt p_value <= 1 -------------------------------------


def test_pettitt_all_tied_p_clamped(spark):
    from flood_data_spark.operators.stats import pettitt_test

    df = spark.createDataFrame([(1, t, 5.0) for t in range(6)],
                               "cell int, t int, v double")
    r = pettitt_test(df, "v", "t", ["cell"]).collect()[0]
    assert r.k_stat == 0
    assert r.p_value == 1.0              # raw 2*exp(0) = 2, clamped
    assert r.shift is False


def test_pettitt_shift_still_detected(spark):
    from flood_data_spark.operators.stats import pettitt_test

    vals = [1.0] * 10 + [100.0] * 10
    df = spark.createDataFrame(
        [(1, t, v) for t, v in enumerate(vals)],
        "cell int, t int, v double")
    r = pettitt_test(df, "v", "t", ["cell"]).collect()[0]
    assert r.shift is True
    assert 0.0 <= r.p_value < 0.05
    assert r.t_change == 9               # last index of the low run


# --- ADVICE fix 4: seasonal MK pair-free groups surface ---------------------


def test_seasonal_mk_pair_free_group_surfaces(spark):
    from flood_data_spark.operators.stats import seasonal_mann_kendall

    # cell 1: every season observed once -> zero comparable pairs.
    # cell 2: a real trend, to prove the left join keeps both.
    rows = [(1, m, m, float(m)) for m in range(1, 5)]
    rows += [(2, m % 4, m, float(m)) for m in range(16)]
    df = spark.createDataFrame(rows,
                               "cell int, season int, t int, v double")
    out = {r.cell: r for r in
           seasonal_mann_kendall(df, "v", "t", "season", ["cell"])
           .collect()}
    assert set(out) == {1, 2}
    assert out[1].s == 0
    assert out[1].z is None
    assert out[1].sen_slope is None
    assert out[1].trend == "no trend"
    assert out[2].s > 0
    assert out[2].trend == "increasing"


# --- quantile_map bucketed rank (VERDICT r14 #3) -----------------------------


def test_quantile_map_bucketed_equals_classic(spark):
    from flood_data_spark.operators.postprocess import quantile_map

    # ties, NULLs, a sim-only group, a single-obs group — the bucketed
    # path (nbuckets=32 names it) must emit the identical
    # multiset as the classic single-window plan.
    sim = spark.range(4000).select(
        (F.col("id") % 3).alias("grp"),
        F.when(F.col("id") % 97 == 0, F.lit(None))
        .otherwise((F.col("id") % 211).cast("double") / 7.0)
        .alias("v"))
    sim = sim.union(spark.createDataFrame(
        [(9, 1.5), (9, 2.5)], "grp long, v double"))
    obs = spark.range(3000).select(
        (F.col("id") % 3).alias("grp"),
        ((F.col("id") % 173).cast("double") / 5.0 + 1.0).alias("v"))
    obs = obs.union(spark.createDataFrame(
        [(7, 42.0)], "grp long, v double"))

    def key(rows):
        return sorted(((r.grp, r.value if r.value is not None
                        else float("-inf"), r.p,
                        r.mapped if r.mapped is not None
                        else float("-inf")) for r in rows))

    classic = key(quantile_map(sim, obs, "v", ["grp"]).collect())
    bucketed = key(quantile_map(sim, obs, "v", ["grp"],
                                nbuckets=32).collect())
    assert classic == bucketed


def test_quantile_map_bucketed_partition_invariant(spark):
    from flood_data_spark.operators.postprocess import quantile_map

    sim = spark.range(2000).select(
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 89).cast("double").alias("v"))
    obs = spark.range(1500).select(
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 67).cast("double").alias("v"))
    base = sorted((r.grp, r.value, r.p, r.mapped) for r in
                  quantile_map(sim, obs, "v", ["grp"],
                               nbuckets=32).collect())
    pert = sorted((r.grp, r.value, r.p, r.mapped) for r in
                  quantile_map(sim.repartition(13),
                               obs.repartition(5), "v", ["grp"],
                               nbuckets=32).collect())
    assert base == pert


# --- incremental IVF maintenance (VERDICT r14 #5) ----------------------------


def _toy_embeddings(spark, n=60, dim=8, n_clusters=3):
    import math
    rows = []
    for i in range(n):
        c = i % n_clusters
        base = [0.0] * dim
        base[c] = 1.0
        # small deterministic wiggle off the cluster axis
        base[(c + 3) % dim] = 0.05 * math.sin(i)
        rows.append((i, base))
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")


def test_ivf_append_matches_full_assignment(spark):
    from flood_data_spark.datapipe.similarity import (ivf_append,
                                                      ivf_build,
                                                      ivf_probe)

    emb = _toy_embeddings(spark)
    a = emb.filter(F.col("vec_id") % 4 != 0)
    b = emb.filter(F.col("vec_id") % 4 == 0)
    centroids, lists_a = ivf_build(a, nlist=4)
    incr = lists_a.unionByName(ivf_append(centroids, b))
    full = ivf_append(centroids, emb)
    got = sorted((r.neighbor_id, r.list_id) for r in incr.collect())
    want = sorted((r.neighbor_id, r.list_id) for r in full.collect())
    assert got == want and len(got) == 60
    # probe parity between the two index paths
    qs = emb.filter(F.col("vec_id") < 6)
    pi = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                ivf_probe(centroids, incr, qs, k=3, nprobe=2).collect())
    pf = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                ivf_probe(centroids, full, qs, k=3, nprobe=2).collect())
    assert pi == pf and pi


def test_ivf_append_parquet_roundtrip_centroids(spark, tmp_path):
    # centroids re-read from parquet lose the driver-side stash — the
    # bounded-take literal path must assign identically.
    from flood_data_spark.datapipe.similarity import ivf_append, ivf_build

    emb = _toy_embeddings(spark)
    centroids, _ = ivf_build(emb, nlist=4)
    cpath = str(tmp_path / "centroids.parquet")
    centroids.write.parquet(cpath)
    reread = spark.read.parquet(cpath)
    got = sorted((r.neighbor_id, r.list_id) for r in
                 ivf_append(reread, emb).collect())
    want = sorted((r.neighbor_id, r.list_id) for r in
                  ivf_append(centroids, emb).collect())
    assert got == want


def test_ivf_drift_report_balanced_and_drifted(spark):
    from flood_data_spark.datapipe.similarity import (ivf_append,
                                                      ivf_build,
                                                      ivf_drift_report)

    emb = _toy_embeddings(spark, n=60, n_clusters=3)
    centroids, lists = ivf_build(emb, nlist=3)
    rep = {r.list_id: r for r in
           ivf_drift_report(centroids, lists).collect()}
    assert sum(r.n for r in rep.values()) == 60
    assert len(rep) <= 3
    for r in rep.values():
        assert -1.0 <= r.drift_cos <= 1.0
        assert r.imbalance > 0
    # a fresh, well-fit index should not demand a re-train
    assert not any(r.retrain for r in rep.values())
    # now append a hot, drifting batch aimed at one list: its size and
    # mean move, and the report flags it
    hot = spark.createDataFrame(
        [(1000 + i,
          [0.4 if d == 0 else (0.9 if d == 7 else 0.0)
           for d in range(8)]) for i in range(300)],
        "vec_id long, embedding array<double>")
    lists2 = lists.unionByName(ivf_append(centroids, hot))
    rep2 = ivf_drift_report(centroids, lists2).collect()
    assert any(r.retrain for r in rep2)


# --- flow-duration curve + WaterWatch classes (VERDICT r14 #7) ---------------


def test_fdc_against_numpy(spark):
    import numpy as np
    from flood_data_spark.operators.extremes import flow_duration_curve

    vals = [3.0, 7.5, 1.2, 9.9, 3.0, 0.4, 6.6]
    df = spark.createDataFrame([(1, v) for v in vals],
                               "cell int, flow double")
    out = flow_duration_curve(df, "flow", ["cell"]).collect()
    n = len(vals)
    want = sorted(zip(sorted(vals, reverse=True),
                      [(i + 1) / (n + 1) for i in range(n)]))
    got = sorted((r.value, r.exceed_p) for r in out)
    for (gv, gp), (wv, wp) in zip(got, want):
        assert gv == wv and abs(gp - wp) < 1e-6
    assert all(r.n == n for r in out)
    # partition invariance: the multiset survives any partitioning
    out2 = flow_duration_curve(df.repartition(5), "flow",
                               ["cell"]).collect()
    assert sorted((r.value, r.rank, r.exceed_p) for r in out2) == \
        sorted((r.value, r.rank, r.exceed_p) for r in out)


def test_flow_percentile_class_boundaries(spark):
    from flood_data_spark.operators.extremes import (
        flow_percentile_class)

    hist = spark.createDataFrame([(1, float(v)) for v in range(1, 21)],
                                 "cell int, flow double")
    cur = spark.createDataFrame(
        [(1, 0.5), (1, 1.0), (1, 2.0), (1, 4.0), (1, 10.0),
         (1, 17.5), (1, 19.0), (1, 20.0), (1, 25.0), (2, 3.0)],
        "cell int, flow double")
    out = {r.value: r for r in
           flow_percentile_class(cur, hist, "flow", ["cell"])
           .collect()}
    assert out[0.5].condition == "record low"       # below all 20
    assert out[25.0].condition == "record high"     # above all 20
    # 1.0: lt=0 eq=1 -> pct=0.025 -> much below
    assert out[1.0].condition == "much below normal"
    # 2.0: lt=1 eq=1 -> pct=0.075 -> much below
    assert out[2.0].condition == "much below normal"
    # 4.0: lt=3 eq=1 -> pct=0.175 -> below normal
    assert out[4.0].condition == "below normal"
    # 10.0: lt=9 eq=1 -> pct=0.475 -> normal
    assert out[10.0].condition == "normal"
    # 17.5: lt=17 eq=0 -> pct=0.85 -> above normal
    assert out[17.5].condition == "above normal"
    # 19.0: lt=18 eq=1 -> pct=0.925 -> much above
    assert out[19.0].condition == "much above normal"
    # 20.0: lt=19 eq=1 -> pct=0.975, eq>0 so NOT record high
    assert out[20.0].condition == "much above normal"
    # cell 2 has no history -> dropped
    assert all(r.n_hist == 20 for r in out.values())
    assert 3.0 not in out


# --- alert triggers + soft dedup weights -------------------------------------


def test_alert_triggers_persistence(spark):
    from flood_data_spark.operators.threshold import alert_triggers

    # cell 1: leads 1-2 above (too short), 5-8 above (alert),
    # 10 above alone (too short); cell 2: nothing above.
    rows = [(1, 1, 0.5), (1, 2, 0.4), (1, 3, 0.1), (1, 4, 0.2),
            (1, 5, 0.35), (1, 6, 0.9), (1, 7, 0.31), (1, 8, 0.30),
            (1, 9, 0.29), (1, 10, 0.8),
            (2, 1, 0.1), (2, 2, 0.0)]
    df = spark.createDataFrame(rows, "cell int, lead int, p double")
    out = alert_triggers(df, "p", "lead", ["cell"],
                         threshold=0.30, min_consecutive=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.cell, r.start_o, r.end_o, r.n_leads) == (1, 5, 8, 4)
    assert abs(r.max_p - 0.9) < 1e-9
    # p == threshold is IN (>=, micro-exact): lead 8 at 0.30 counted
    # a gap in the lead axis breaks the run even when p stays high
    gap = spark.createDataFrame(
        [(1, 1, 0.9), (1, 2, 0.9), (1, 4, 0.9), (1, 5, 0.9)],
        "cell int, lead int, p double")
    assert alert_triggers(gap, "p", "lead", ["cell"],
                          threshold=0.3,
                          min_consecutive=3).count() == 0
    assert alert_triggers(gap, "p", "lead", ["cell"], threshold=0.3,
                          min_consecutive=2).count() == 2


def test_soft_dedup_weights(spark):
    from flood_data_spark.datapipe.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "Alpha  "), (4, "alpha"),
         (5, "gamma")],
        "doc_id long, text string")
    out = {r.id: r for r in soft_dedup_weights(docs).collect()}
    assert len(out) == 5                       # every doc kept
    # "alpha" group: ids 1,3,4 (normalization folds case/whitespace)
    for i in (1, 3, 4):
        assert out[i].n_copies == 3
        assert abs(out[i].weight - 0.333333) < 1e-9
    for i in (2, 5):
        assert out[i].n_copies == 1 and out[i].weight == 1.0
    # unit mass per distinct text
    total = sum(r.weight for r in out.values())
    assert abs(total - 3.0) < 1e-5


# --- USDM drought classes + quality-aware dedup ------------------------------


def test_drought_classes_ladder(spark):
    from flood_data_spark.operators.extremes import drought_classes

    rows = [(1, -2.5, "D4"), (2, -2.0, "D4"), (3, -1.7, "D3"),
            (4, -1.6, "D3"), (5, -1.45, "D2"), (6, -1.0, "D1"),
            (7, -0.8, "D1"), (8, -0.6, "D0"), (9, -0.5, "D0"),
            (10, -0.49, "none"), (11, 0.0, "none"), (12, 1.7, "none"),
            (13, None, None)]
    df = spark.createDataFrame([(i, s) for i, s, _ in rows],
                               "id int, spi double")
    out = {r.id: r for r in drought_classes(df, "spi").collect()}
    for i, _, want in rows:
        assert out[i].d_class == want, (i, out[i].d_class, want)
    assert out[13].in_drought is None
    assert out[1].in_drought is True and out[11].in_drought is False


def test_dedup_keep_best_quality_pick(spark):
    from flood_data_spark.datapipe.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "alpha", 3.0), (2, "alpha ", 9.0), (3, "ALPHA", 9.0),
         (4, "beta", 1.0)],
        "doc_id long, text string, qual double")
    out = {r.dup_key: r for r in
           dedup_keep_best(docs, "qual").collect()}
    assert len(out) == 2
    grp = next(r for r in out.values() if r.n_copies == 3)
    # quality 9.0 tie between ids 2 and 3 -> min id wins
    assert grp.rep_id == 2 and grp.rep_quality == 9.0
    solo = next(r for r in out.values() if r.n_copies == 1)
    assert solo.rep_id == 4 and solo.rep_quality == 1.0
