"""Ensemble exceedance probabilities + 5-number summary (the flagship
aggregation — SURVEY.md §2.4 A1/A1a/A1b).

Semantics parity with reference flood/spark/transforms.py:112-150
(`compute_flood_threshold_percentages`):

- left-join forecast ensemble rows to the static per-cell threshold table on
  the rounded (latitude, longitude) float keys;
- per (cell, issued_on, valid_for, step): fraction of ensemble members whose
  dis24 >= threshold_Ny  → p_above_Ny for N in threshold_years;
- 5-number summary of dis24: min, Q1, median, Q3, max, with an accuracy mode
  switch: 'approx' → percentile_approx sketch, 'exact' → true percentile
  with linear interpolation (reference transforms.py:132-137), read off one
  sorted array of the group's values (operators/stats.sorted_quantile).

Spark-first differences from the reference:
- the threshold table is ~1 row/cell and static → we *broadcast* it instead
  of co-repartitioning both sides (the reference shuffles both inputs with
  repartition(100); a broadcast eliminates that shuffle entirely, leaving the
  single groupBy exchange as the only shuffle in the query);
- exceedance indicators keep the reference's when/otherwise(0) ladder
  inside an avg(): a NULL threshold (cell missing from the threshold table)
  must score 0.0, not NULL — avg over a raw boolean cast would skip those
  rows and the NULL later flips peak-timing labels.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flood_data_spark.config import DEFAULT_CONFIG
from flood_data_spark.operators.stats import sorted_quantile, sorted_values

GROUP_KEYS = ("latitude", "longitude", "issued_on", "valid_for", "step")
_QS = (0.25, 0.50, 0.75)
_Q_NAMES = ("Q1_dis", "median_dis", "Q3_dis")


def combine_threshold_rasters(dfs: Sequence[DataFrame],
                              rename_maps: Sequence[Mapping[str, str] | None] | None = None,
                              precision: int | None = None,
                              half_grid_size: float | None = None,
                              add_geom: bool = True,
                              sort: bool = True,
                              check: bool = True) -> DataFrame:
    """J5: fold-join N per-return-period threshold rasters into the single
    per-cell threshold table (reference databricks/threshold-data-joining.py:
    70-110, with the per-raster column renames of
    threshold-data-conversion.py:58-65 folded in via `rename_maps`).

    Per input: apply its rename map (e.g. {'2yRP_GloFASv4': 'threshold_2y'}),
    round latitude/longitude to `precision` (the §1.4 float-key discipline —
    raw raster coordinates carry float noise that would silently empty the
    equi-join).  Then inner-join all inputs on the rounded (latitude,
    longitude) keys, guard with the reference's count-preservation asserts
    (equal input counts; output count unchanged — an inner join that loses or
    fans out rows means misaligned grids), append the WKT cell geometry, and
    sort by (latitude, longitude) for the serving layout.

    Scale posture: the N rasters share the same grain and the same join key,
    so after the first shuffle every subsequent join reuses the existing
    hash partitioning — N inputs cost N input shuffles, not 2(N-1) (the
    reference forces repartition(100) by hand; AQE sizes the exchanges here).
    `sort` is a global sort for the final write layout — disable it mid-plan.
    A partitioned write (`sources.parquet.write_parquet(partition_by=)`,
    `upsert_partitions`) keeps that order only when the sort is led by the
    partition columns, so this (latitude, longitude) order is lost there.

    check=True runs count() actions (cheap QA on the once-per-deployment
    thresholds build, the reference runs them unconditionally).  Note the
    count check's inherited blind spot: a cell duplicated on only ONE side
    cancels out (+1 fan-out, -1 unmatched loss); for a watertight grain
    guarantee also run plans.checks.assert_unique_key per input.
    """
    if len(dfs) < 2:
        raise ValueError("combine_threshold_rasters needs >= 2 rasters")
    if rename_maps is not None and len(rename_maps) != len(dfs):
        raise ValueError(
            f"rename_maps has {len(rename_maps)} entries for {len(dfs)} "
            "rasters — pass one map (or None) per input")
    from flood_data_spark.plans.checks import PipelineCheckError

    p = precision if precision is not None else DEFAULT_CONFIG.precision
    rounded = []
    for i, df in enumerate(dfs):
        if rename_maps and rename_maps[i]:
            for old, new in rename_maps[i].items():
                df = df.withColumnRenamed(old, new)
        rounded.append(df
                       .withColumn("latitude", F.round("latitude", p))
                       .withColumn("longitude", F.round("longitude", p)))

    if check:
        counts = [df.count() for df in rounded]
        if len(set(counts)) != 1:
            raise PipelineCheckError(
                f"threshold rasters disagree on cell count: {counts}")

    combined = rounded[0]
    for nxt in rounded[1:]:
        combined = combined.join(nxt, on=["latitude", "longitude"],
                                 how="inner")

    if check:
        after = combined.count()
        if after != counts[0]:
            raise PipelineCheckError(
                f"threshold combine changed row count {counts[0]} -> {after} "
                f"({'fan-out (duplicate cells)' if after > counts[0] else 'row loss (misaligned grids)'})")

    if add_geom:
        from flood_data_spark.functions.geometry import add_geometry
        combined = add_geometry(combined, half_grid_size, p)
    if sort:
        combined = combined.orderBy("latitude", "longitude")
    return combined


def ensemble_threshold_summary(forecast_df: DataFrame,
                               threshold_df: DataFrame,
                               threshold_years=None,
                               accuracy_mode: str = "approx",
                               broadcast_thresholds: bool = True,
                               group_keys=GROUP_KEYS,
                               join_keys=("latitude", "longitude"),
                               value_col: str = "dis24",
                               observation=None) -> DataFrame:
    """forecast (1 row per ensemble member) × thresholds → detailed forecast
    (1 row per cell/step) with p_above_Ny and the value 5-number summary.

    `join_keys` / `group_keys` / `value_col` default to the flood schema but
    are configurable so the operator applies to any ensemble-shaped table;
    `group_keys` may hold column names or Columns.

    accuracy_mode='exact' collects each group's values into one sorted
    array ([stats.sorted_values]) and reads min and max off its ends and
    Q1 / median / Q3 by Percentile.getPercentile's interpolation
    ([stats.sorted_quantile]): equal to ``F.percentile`` / ``min`` /
    ``max`` (pinned in tests/test_threshold.py), in one groupBy whose
    buffer is the raw values rather than percentile's per-value hash map.

    `observation` (a pyspark `Observation`), when given, rides the
    forecast ⋈ thresholds join and reports `join_rows` and `matched_rows`
    (rows whose key found a threshold row) at the first action over the
    result: the fan-out and §1.4 empty-join probes at no extra job.
    """
    if accuracy_mode not in ("approx", "exact"):
        raise ValueError("accuracy_mode must be 'approx' or 'exact'")
    years = threshold_years or DEFAULT_CONFIG.threshold_years

    rhs = threshold_df
    if observation is not None:
        # a non-null marker on every threshold row: after the LEFT join it
        # is null exactly on the rows whose key found no threshold
        rhs = rhs.withColumn("_matched", F.lit(1))
    if broadcast_thresholds:
        rhs = F.broadcast(rhs)
    joined = forecast_df.join(rhs, on=list(join_keys), how="left")
    if observation is not None:
        joined = joined.observe(observation,
                                F.count(F.lit(1)).alias("join_rows"),
                                F.count("_matched").alias("matched_rows"))

    # when/otherwise(0), NOT avg(cast(cmp)): a NULL threshold (cell missing
    # from the threshold table) must count as "not exceeded" (p = 0.0), the
    # reference's exceedance semantics (flood/spark/transforms.py:121-129);
    # avg over a NULL comparison would skip the row and emit NULL, which
    # later flips peak-timing GC/GB labels (NULL < 0.30 is not true)
    aggs = [
        F.avg(F.when(F.col(value_col) >= F.col(f"threshold_{int(y)}y"),
                     F.lit(1)).otherwise(F.lit(0)))
         .alias(f"p_above_{int(y)}y")
        for y in years
    ]
    if accuracy_mode == "exact":
        aggs.append(sorted_values(value_col).alias("_s"))
        summary = [F.get("_s", 0).alias("min_dis"),
                   *[sorted_quantile("_s", q).alias(n)
                     for q, n in zip(_QS, _Q_NAMES)],
                   F.get("_s", F.size("_s") - 1).alias("max_dis")]
    else:
        aggs += [F.min(value_col).alias("min_dis"),
                 F.percentile_approx(value_col,
                                     F.array(*[F.lit(q) for q in _QS]))
                 .alias("_q"),
                 F.max(value_col).alias("max_dis")]
        summary = ["min_dis",
                   *[F.element_at("_q", i + 1).alias(n)
                     for i, n in enumerate(_Q_NAMES)],
                   "max_dis"]
    p_cols = [f"p_above_{int(y)}y" for y in years]
    return (joined.groupBy(*group_keys).agg(*aggs)
            .select(*group_keys, *p_cols, *summary))


def alert_triggers(df: DataFrame, prob_col: str, order_col: str,
                   group_keys, threshold: float = 0.3,
                   min_consecutive: int = 3,
                   step: int = 1) -> DataFrame:
    """Operational flood-alert triggers over an exceedance-probability
    product — the PERSISTENCE criterion operational services apply to
    GloFAS-style P(exceed) leads (alerts activate only when the
    probability holds, e.g. '≥ 30% probability of exceeding the
    20-year threshold for ≥ 3 consecutive daily leads' — the
    published GloFAS activation shape), turning [ensemble_threshold_
    summary]'s per-lead probabilities into the alert table a duty
    forecaster reads:

        keep leads with p ≥ threshold, group CONSECUTIVE leads
        (gap > `step` on the integer `order_col` axis breaks the
        run — a missing lead breaks persistence), emit runs with
        ≥ `min_consecutive` leads.

    Duplicate leads do NOT fake persistence: the input is first
    collapsed to ONE row per (keys, lead) taking the max probability
    (two rows at the same lead plus one adjacent lead is 2 distinct
    leads, not 3 — n_leads counts DISTINCT leads in the run, the
    operational meaning of 'consecutive daily leads').

    Exactness: the probability is compared in quantized micro space
    (p and threshold both micro-floored, so the cut is engine-
    portable even when p is a ratio of member counts), and the runs
    come off [drought_runs]'s gaps-and-islands pair — one lag window
    + one running-sum window on the SAME group-keyed sort.  max_p
    closes as a max over integer micros.

    Scale posture: one filter (pushed to the scan), ONE group-keyed
    exchange carrying only the rows above threshold (at operational
    probabilities that's a small fraction of the grid), two windows
    and a groupBy on it.  Returns (keys…, run, start_o, end_o,
    n_leads, max_p), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("alert_triggers: need at least one group key")
    if min_consecutive < 1:
        raise ValueError("alert_triggers: min_consecutive must be "
                         f">= 1, got {min_consecutive}")
    from pyspark.sql import Window

    c = F.col(prob_col).cast("double")
    qp = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    qthr = int(round(float(threshold) * 1_000_000))
    exc = (df.select(*keys, F.col(order_col).cast("long").alias("_o"),
                     qp.alias("_qp"))
           .filter(F.col("_qp") >= F.lit(qthr))
           # one row per (keys, lead): duplicate order_col values must
           # not count twice toward min_consecutive (gap 0 would join
           # the run).  Costs one extra narrow exchange of the
           # already-filtered above-threshold rows (map-side combined).
           .groupBy(*keys, "_o")
           .agg(F.max("_qp").alias("_qp")))
    w = Window.partitionBy(*keys).orderBy("_o")
    new_flag = F.when(
        F.col("_o") - F.lag("_o", 1).over(w) > F.lit(int(step)),
        F.lit(1)).otherwise(F.lit(0))
    wrun = (Window.partitionBy(*keys).orderBy("_o")
            .rowsBetween(Window.unboundedPreceding, 0))
    runs = (exc.withColumn("_new", new_flag)
            .withColumn("run", F.sum("_new").over(wrun)))
    return (runs.groupBy(*keys, "run")
            .agg(F.min("_o").alias("start_o"),
                 F.max("_o").alias("end_o"),
                 F.count(F.lit(1)).cast("long").alias("n_leads"),
                 (F.max("_qp").cast("double") / F.lit(1e6))
                 .alias("max_p"))
            .filter(F.col("n_leads") >= F.lit(int(min_consecutive)))
            .orderBy(*keys, "start_o"))
