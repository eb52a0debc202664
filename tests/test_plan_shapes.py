"""Physical-plan regression tests: the scale-relevant plan shapes asserted
so optimizer-hostile edits can't land silently.

These lock in what `.explain()` review established:
- thresholds broadcast into the ensemble join (no shuffle of the fact side
  for the join itself);
- the step-1 control filter reaches the scan as a pushed filter;
- the flagship aggregation keeps a single exchange (join → agg share the
  pipeline);
- pair-scoring joins inherit multi-partition parallelism (the
  BroadcastNestedLoopJoin regression behind the 53s near-dup query).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flood_data_spark.datapipe.similarity import embedding_near_dup_pairs
from flood_data_spark.operators.threshold import ensemble_threshold_summary


@pytest.fixture(scope="module")
def forecast_parquet(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("plans")
    rng = np.random.default_rng(23)
    n = 2000
    pd.DataFrame({
        "latitude": np.round(0.025 + rng.integers(0, 20, n) * 0.05, 3),
        "longitude": np.round(0.025 + rng.integers(0, 20, n) * 0.05, 3),
        "issued_on": pd.Timestamp("2024-01-01"),
        "valid_for": pd.Timestamp("2024-01-02"),
        "step": rng.integers(1, 31, n).astype("int32"),
        "dis24": rng.gamma(2.0, 50.0, n).astype("float32"),
    }).to_parquet(root / "forecast.parquet")
    pd.DataFrame({
        "latitude": np.round(0.025 + np.arange(20).repeat(20) * 0.05, 3),
        "longitude": np.round(0.025 + np.tile(np.arange(20), 20) * 0.05, 3),
        "threshold_2y": 80.0, "threshold_5y": 150.0, "threshold_20y": 260.0,
    }).to_parquet(root / "thresholds.parquet")
    return str(root)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_threshold_summary_broadcasts_and_single_exchange(spark, forecast_parquet):
    forecast = spark.read.parquet(forecast_parquet + "/forecast.parquet") \
        .withColumn("issued_on", F.to_date("issued_on")) \
        .withColumn("valid_for", F.to_date("valid_for"))
    thresholds = spark.read.parquet(forecast_parquet + "/thresholds.parquet")
    out = ensemble_threshold_summary(forecast, thresholds,
                                     accuracy_mode="exact")
    out.count()  # materialize so AQE finalizes the plan
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exact path: one sorted-array aggregate — no window, no percentile
    # per-value hash map, the join and the aggregate share one exchange
    assert "Window" not in plan
    assert "percentile(" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan

    # approx mode keeps the classic single-exchange sketch aggregate
    out_a = ensemble_threshold_summary(forecast, thresholds,
                                       accuracy_mode="approx")
    out_a.count()
    plan_a = _plan(out_a)
    assert "BroadcastHashJoin" in plan_a
    assert plan_a.count("Exchange hashpartitioning") == 1, plan_a


def test_step_filter_pushed_to_scan(spark, forecast_parquet):
    forecast = spark.read.parquet(forecast_parquet + "/forecast.parquet")
    plan = _plan(forecast.filter(F.col("step") == 1))
    assert "PushedFilters: [IsNotNull(step), EqualTo(step,1)]" in plan


def test_restrict_area_pushes_range_predicates(spark, forecast_parquet):
    """P9's buffered box slice must reach the parquet scan as pushed
    GreaterThanOrEqual/LessThanOrEqual filters on both coordinates (row-group
    min/max pruning is what makes region slicing cheap at 100 TB)."""
    from flood_data_spark.functions.geometry import restrict_area
    forecast = spark.read.parquet(forecast_parquet + "/forecast.parquet")
    out = restrict_area(forecast, 0.1, 0.4, 0.1, 0.4)
    # formatted explain: plan.toString truncates long PushedFilters lists
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    # float-literal prefixes (0.1 - 0.0125 prints as 0.08750000000000001)
    for frag in ("GreaterThanOrEqual(latitude,0.0875",
                 "LessThanOrEqual(latitude,0.4125",
                 "GreaterThanOrEqual(longitude,0.0875",
                 "LessThanOrEqual(longitude,0.4125"):
        assert frag in plan, f"{frag} not pushed:\n{plan}"


def test_pair_join_is_parallel(spark, forecast_parquet):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>").coalesce(1)
    pairs = embedding_near_dup_pairs(emb, threshold=-1.0)
    assert pairs.rdd.getNumPartitions() > 1, \
        "pair join collapsed to single-partition BNLJ"


def test_dedup_lines_plan_is_hash_joins_only(spark):
    """Line dedup at scale must never degrade to a nested-loop or
    cartesian plan, and its shuffle count stays bounded (explode + cap
    groupBy + window + reassembly — all narrow (id, pos, hash) rows)."""
    from flood_data_spark.datapipe.curation import dedup_lines
    docs = spark.createDataFrame(
        [(i, "a b c.\nd e f.\nshared line here." ) for i in range(40)],
        "doc_id long, text string")
    out = dedup_lines(docs, max_doc_freq=30)
    out.count()  # let AQE finalize
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 6, plan


def test_ivf_lists_plan_is_shuffle_free(spark):
    """The full-corpus IVF list assignment must stay a narrow map: the
    centroid matrix is a literal, argmax is array_sort — NO Exchange, NO
    Join, NO Window may appear in the lists plan (the round-4 rewrite;
    a regression re-introduces a corpus shuffle at 100 TB)."""
    import numpy as np
    from flood_data_spark.datapipe.similarity import ivf_build

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(100)],
        "vec_id long, embedding array<double>")
    _, lists = ivf_build(emb, nlist=4)
    plan = lists._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join", "Window"):
        assert node not in plan, f"lists plan grew a {node}:\n{plan}"


def test_quantized_topk_prunes_topk_before_exchange(spark):
    """Rank-limit pushdown: WindowGroupLimit must run in Partial mode below
    the query_id exchange, so the shuffle carries <= k rows per (partition,
    query) instead of the full scored cross product."""
    import numpy as np
    from flood_data_spark.datapipe.quantize import cosine_topk_quantized

    rng = np.random.default_rng(6)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(200)],
        "vec_id long, embedding array<double>")
    out = cosine_topk_quantized(emb, emb.filter("vec_id < 3"), k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    head = plan.split("Exchange hashpartitioning(query_id")[-1]
    # a Partial WindowGroupLimit must exist BELOW (after, in toString order)
    # the query_id exchange
    assert "WindowGroupLimit" in head and "Partial" in head


def test_products_plan_single_range_exchange(spark):
    """Each daily product carries exactly one rangepartitioning exchange:
    its (issued_on, latitude, longitude) sort before save.  A second one
    means the layout is paid twice."""
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
    from tests.test_pipeline import _day

    products = DailyForecastPipeline(accuracy_mode="exact").run(*_day(spark))
    for df in (products.detailed, products.summary):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange rangepartitioning") == 1, plan


def test_summary_plan_is_one_cell_aggregate(spark):
    """The summary is one (latitude, longitude) aggregate over the cached
    detailed product: above the cache, one hash exchange and no window
    or sort-merge join (the joined per-classifier formulation planned
    3-4 hash exchanges and a window sort)."""
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
    from tests.test_pipeline import _day

    summary = DailyForecastPipeline(accuracy_mode="exact").run(
        *_day(spark)).summary
    plan = summary._jdf.queryExecution().executedPlan().toString()
    above_cache = plan.split("InMemoryRelation")[0]
    assert "Window" not in above_cache, plan
    assert "SortMergeJoin" not in above_cache, plan
    assert above_cache.count("Exchange hashpartitioning") == 1, plan


def test_ivf_probe_gets_dynamic_partition_pruning(spark, tmp_path):
    """Probing a lists table persisted partitionBy(list_id): the broadcast
    probe side must inject a dynamic-partition-pruning filter into the lists
    scan, so only the nprobe matching list partitions are read — the claim
    behind 'persist lists partitioned by list_id' in ivf_build's contract."""
    import numpy as np
    from flood_data_spark.datapipe.similarity import ivf_build, ivf_probe

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(500)],
        "vec_id long, embedding array<double>")
    centroids, lists = ivf_build(emb, nlist=8)
    path = str(tmp_path / "lists")
    lists.write.partitionBy("list_id").parquet(path)
    out = ivf_probe(centroids, spark.read.parquet(path),
                    emb.filter("vec_id < 2"), k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_ivf_probe_bulk_batch_falls_back_to_shuffle_join(spark):
    """broadcast_probes=False (corpus-scale query batches): the probe/lists
    join must become a shuffled join — no broadcast of the probe relation,
    which at bulk scale would OOM the driver instead of degrading."""
    import numpy as np
    from flood_data_spark.datapipe.similarity import ivf_build, ivf_probe

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(300)],
        "vec_id long, embedding array<double>")
    centroids, lists = ivf_build(emb, nlist=4)
    out = ivf_probe(centroids, lists, emb, k=3, nprobe=2,
                    broadcast_probes=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_equidepth_has_no_global_window(spark, tmp_path):
    """The equi-depth profile must use the two-pass boundary plan — a
    single-partition ntile window (`WindowExec: No Partition Defined`)
    serializes the corpus through one task at scale."""
    import __spark_entry__ as entry_mod

    pd.DataFrame({
        "l_orderkey": np.arange(100, dtype="int64"),
        "l_linenumber": np.ones(100, dtype="int32"),
        "l_extendedprice": np.linspace(1.0, 100.0, 100),
    }).to_parquet(tmp_path / "lineitem.parquet")
    out = entry_mod.q_equidepth(spark, str(tmp_path))
    plan = _plan(out)
    assert "Window" not in plan, plan
    assert "Sort" not in plan.replace("SortAggregate", ""), plan


def test_nse_kge_error_battery_single_exchange(spark):
    """The hydrological scores are ONE group-keyed exchange each: one
    partial/final HashAggregate pair, no window, no sort, no UDF."""
    from flood_data_spark.operators.verification import (
        error_summary, kge_score, nse_score)

    df = spark.range(2000).select(
        (F.col("id") % 5).alias("lead"),
        (F.col("id") % 37 + 1).cast("double").alias("sim"),
        (F.col("id") % 29 + 2).cast("double").alias("obs"))
    for op in (nse_score, kge_score, error_summary):
        plan = _plan(op(df, "sim", "obs", ["lead"])
                     .limit(1))
        # exactly one shuffle for the aggregation (plus nothing else
        # before the final orderBy's own exchange, removed by limit? —
        # count only hashpartitioning exchanges on the group key)
        assert plan.count("Exchange hashpartitioning") == 1, op
        assert "WindowExec" not in plan, op
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, op


def test_pot_and_drought_share_one_window_exchange(spark):
    """Declustering's lag + running-sum ride ONE cell-keyed sort
    exchange (identical partitioning/ordering -> one WindowExec
    group); the cluster aggregate reuses the partitioning."""
    from flood_data_spark.operators.extremes import pot_decluster

    df = spark.range(4000).select(
        (F.col("id") % 7).alias("cell"),
        (F.col("id") * 13).alias("t"),
        (F.col("id") % 97).cast("double").alias("v"))
    plan = _plan(pot_decluster(df, "v", "t", ["cell"], 10.0, 50))
    assert plan.count("WindowGroupLimit") == 0
    # one Window node hosting both the lag and the running sum
    assert plan.count("Window ") + plan.count("WindowExec") <= 2
    # the windows' sort exchange is the only hashpartitioning on cell
    # before the final output sort
    assert plan.count("Exchange hashpartitioning(cell") == 1


def test_ks_shares_cumulative_and_total_windows(spark):
    """KS's cumulative ECDF windows and the group-total windows share
    the (keys)-partitioned exchange — no second shuffle before the
    final aggregate."""
    from flood_data_spark.operators.stats import ks_two_sample

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("cell"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("lab"),
        (F.col("id") % 41).cast("double").alias("v"))
    plan = _plan(ks_two_sample(df, "v", "lab", "a", "b", ["cell"]))
    assert plan.count("Exchange hashpartitioning(cell") <= 2
    assert "BatchEvalPython" not in plan


def test_muskingum_is_single_python_stage_per_reach(spark):
    """The routing recurrence is exactly ONE FlatMapGroupsInPandas over
    the reach exchange — the custom-stateful seam, nothing else in
    Python."""
    from flood_data_spark.operators.routing import muskingum_route

    df = spark.range(300).select(
        (F.col("id") % 3).alias("reach"),
        F.col("id").alias("day"),
        (F.col("id") % 17).cast("double").alias("q"))
    plan = _plan(muskingum_route(df, "q", "day", ["reach"], 20.0,
                                 0.2, 24.0))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning(reach") == 1


def test_frequency_fits_single_rank_window_no_python(spark):
    """Gumbel/GEV/L-ratio fits: ONE cell-partitioned rank window, one
    aggregation exchange, zero Python stages."""
    from flood_data_spark.operators.extremes import (
        gev_return_levels, gumbel_return_levels, lmoment_ratios)

    df = spark.range(600).select(
        (F.col("id") % 6).alias("cell"),
        (F.col("id") % 97 + 1).cast("double").alias("am"))
    for op in (lambda d: gumbel_return_levels(d, "am", ["cell"]),
               lambda d: gev_return_levels(d, "am", ["cell"]),
               lambda d: lmoment_ratios(d, "am", ["cell"])):
        plan = _plan(op(df))
        assert plan.count("Window") <= 2          # one logical window
        assert "BatchEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan
        # rank window + final agg share the cell partitioning: at most
        # two hashpartitioning exchanges end to end (window, agg)
        assert plan.count("Exchange hashpartitioning") <= 2


def test_spi_single_window_exchange_no_python(spark):
    """Empirical SPI: the rank and count windows share ONE cell-keyed
    exchange; the probit is pure codegen expression (no Python)."""
    from flood_data_spark.operators.extremes import spi_empirical

    df = spark.range(600).select(
        (F.col("id") % 6).alias("cell"),
        (F.col("id") % 30).alias("day"),
        (F.col("id") % 97 + 1).cast("double").alias("precip"))
    plan = _plan(spi_empirical(df, "precip", ["cell"], "day"))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan


def test_fss_three_bounded_exchanges_no_join(spark):
    """FSS: (keys,i) window -> (keys,j) window -> keys aggregate =
    at most three hash exchanges, no join anywhere, no Python —
    work O(cells) independent of the radius."""
    from flood_data_spark.operators.verification import fss

    df = spark.range(1600).select(
        F.lit("g").alias("grp"),
        (F.col("id") % 40).alias("i"), (F.col("id") / 40).cast("int").alias("j"),
        (F.col("id") % 3 == 0).cast("int").alias("fc"),
        (F.col("id") % 5 == 0).cast("int").alias("ob"))
    for r in (1, 5):
        plan = _plan(fss(df, "i", "j", "fc", "ob", ["grp"], radius=r))
        assert plan.count("Exchange hashpartitioning") <= 3
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan


def test_rps_two_exchanges_threshold_columns(spark):
    """RPS: the K thresholds fold into conditional-sum COLUMNS of one
    instance aggregate (no explode, no K-times row amplification);
    instance + group aggregates = two exchanges, no join."""
    from flood_data_spark.operators.verification import rps_score

    df = spark.range(900).select(
        (F.col("id") % 3).alias("cell"), (F.col("id") % 30).alias("t"),
        (F.col("id") % 50).cast("double").alias("member"),
        F.lit(25.0).alias("obs"))
    plan = _plan(rps_score(df, "member", "obs", ["cell"], ["t"],
                           thresholds=(10.0, 20.0, 30.0)))
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan


def test_quantile_map_equi_joins_only(spark):
    """Quantile mapping: the obs side joins ONLY as equi-joins (the
    group-bounded count, then the order statistics on (keys, f)) —
    never a nested-loop/cartesian scan of m rows per sim row."""
    from flood_data_spark.operators.postprocess import quantile_map

    sim = spark.range(500).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 83 + 1).cast("double").alias("v"))
    obs = spark.range(300).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 71 + 2).cast("double").alias("v"))
    plan = _plan(quantile_map(sim, obs, "v", ["grp"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_uh_convolve_single_exchange(spark):
    """UH convolution: literal (tau,U) Generate + ONE (keys, t_out)
    aggregation exchange — no join, no Python."""
    from flood_data_spark.operators.routing import uh_convolve

    df = spark.range(200).select(
        (F.col("id") % 4).alias("basin"), (F.col("id") / 4).cast("long").alias("t"),
        (F.col("id") % 31).cast("double").alias("p"))
    plan = _plan(uh_convolve(df, "p", "t", ["basin"],
                             [0.2, 0.5, 0.3]))
    assert "Generate explode" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan


def test_regional_growth_broadcasts_region_fit(spark):
    """RFA: the tiny per-region growth relation broadcasts back onto
    sites — never a shuffle of the site relation for that join."""
    from flood_data_spark.operators.extremes import (
        regional_growth_curve)

    df = spark.range(800).select(
        (F.col("id") % 2).alias("region"), (F.col("id") % 8).alias("site"),
        (F.col("id") % 89 + 1).cast("double").alias("am"))
    plan = _plan(regional_growth_curve(df, "am", ["region"], "site"))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_rating_curve_single_moment_exchange(spark):
    """Rating curve: one group-keyed aggregate of integer log
    moments — the gauge corpus moves once, no window, no join."""
    from flood_data_spark.operators.routing import rating_curve

    df = spark.range(400).select(
        (F.col("id") % 5).alias("station"),
        (F.col("id") % 17 + 1).cast("double").alias("h"),
        (F.col("id") % 23 + 2).cast("double").alias("q"))
    plan = _plan(rating_curve(df, "h", "q", ["station"]))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_seasonal_mk_pairs_stay_season_keyed(spark):
    """Seasonal MK: the pair self-join keys on (keys, season) — a
    SortMergeJoin/shuffle on that compound key, never a cartesian."""
    from flood_data_spark.operators.stats import seasonal_mann_kendall

    df = spark.range(240).select(
        (F.col("id") % 2).alias("cell"), (F.col("id") % 4).alias("season"),
        (F.col("id") % 30).alias("t"),
        (F.col("id") % 13).cast("double").alias("x"))
    plan = _plan(seasonal_mann_kendall(df, "x", "t", "season",
                                       ["cell"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_idf_durations_share_cell_exchange(spark):
    """IDF: all duration windows partition by the cell key; no join,
    no Python — union + windows + the Gumbel fit aggregate."""
    from flood_data_spark.operators.extremes import idf_curves

    df = spark.range(300).select(
        (F.col("id") % 3).alias("cell"), (F.col("id") / 3).cast("long").alias("t"),
        (F.col("id") % 10).alias("blk"),
        (F.col("id") % 29).cast("double").alias("rain"))
    plan = _plan(idf_curves(df, "rain", "t", "blk", ["cell"],
                            durations=(1, 3), periods=(10,)))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_regrid_single_exchange_no_join(spark):
    """Conservative regrid: literal candidate Generate + ONE
    destination-keyed aggregation exchange — no join anywhere."""
    from flood_data_spark.operators.grid import conservative_regrid

    df = spark.range(400).select(
        ((F.col("id") % 20) * 0.05 + 0.025).alias("lat"),
        ((F.col("id") / 20).cast("long") * 0.05 + 0.025).alias("lon"),
        (F.col("id") % 31).cast("double").alias("v"))
    plan = _plan(conservative_regrid(df, "lat", "lon", "v",
                                     0.05, 0.075))
    assert plan.count("Generate explode") == 2   # dy and dx scatters
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan


def test_alert_triggers_single_exchange_no_python(spark):
    """Alert triggers: the micro-space probability cut is a plain
    Filter feeding ONE group-keyed exchange (two windows + groupBy on
    the same sort) — no join, no Python stage."""
    from flood_data_spark.operators.threshold import alert_triggers

    df = spark.range(600).select(
        (F.col("id") % 6).alias("cell"),
        (F.col("id") / 6).cast("long").alias("lead"),
        ((F.col("id") % 10) / 10.0).alias("p"))
    plan = _plan(alert_triggers(df, "p", "lead", ["cell"],
                                threshold=0.3, min_consecutive=2))
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_flow_percentile_class_equi_join_only(spark):
    """WaterWatch classes: the historical corpus joins ONCE as an
    equi-join on the group keys — never a nested-loop scan of the
    record per current row."""
    from flood_data_spark.operators.extremes import (
        flow_percentile_class)

    cur = spark.range(40).select(
        (F.col("id") % 4).alias("cell"),
        (F.col("id") % 13).cast("double").alias("v"))
    hist = spark.range(4000).select(
        (F.col("id") % 4).alias("cell"),
        (F.col("id") % 97).cast("double").alias("v"))
    plan = _plan(flow_percentile_class(cur, hist, "v", ["cell"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_append_shuffle_free(spark):
    """ivf_append on literal-path centroids: a narrow map over the
    batch — no Exchange, no join, no Python."""
    from flood_data_spark.datapipe.similarity import (ivf_append,
                                                      ivf_build)

    emb = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("double")
                  for i in range(4)]).alias("embedding"))
    centroids, _ = ivf_build(emb, nlist=4)
    plan = _plan(ivf_append(centroids, emb))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
