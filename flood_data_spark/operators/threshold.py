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
  with linear interpolation (reference transforms.py:132-137).

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

GROUP_KEYS = ("latitude", "longitude", "issued_on", "valid_for", "step")


def _quantiles_array(col: str, qs, accuracy_mode: str):
    """All requested quantiles from ONE aggregate buffer: the per-group value
    buffer (exact) / sketch (approx) is built once instead of once per
    quantile — ~25% off the flagship agg at sf0.1 with identical values."""
    arr = F.array(*[F.lit(q) for q in qs])
    if accuracy_mode == "approx":
        return F.percentile_approx(col, arr)
    return F.percentile(col, arr)


def _exact_summary_via_ranks(joined: DataFrame, group_keys, value_col: str,
                             years, qs=(0.25, 0.50, 0.75)) -> DataFrame:
    """Exact exceedance + 5-number summary through ONE sort-based window pass
    instead of percentile's ObjectHashAggregate.

    F.percentile's partial buffer holds every raw value per group (it is an
    exact aggregate), so the 'partial aggregation' shuffles the same bytes as
    the raw rows while paying OpenHashMap build/merge per value on both sides.
    Sorting the rows within each group and keeping only the rows whose
    0-based rank is floor/ceil of q*(n-1) replaces that with a plain shuffle
    + sort + narrow filter: same single exchange (the window's
    hashpartitioning is reused by the final groupBy), bit-identical output
    (exceptAll == 0 both ways; the interpolation reproduces
    Percentile.getPercentile's exact float expression order).

    Measured verdict (r16, sf0.1 local[32]): NOT the default.  Isolated it
    wins the standalone 60M-row tier 2x (5.1 s vs 10.6 s min-of-3), but the
    windowed intermediate materializes every input row plus ~9 window
    columns before the rank filter, and that wide buffer made it LOSE
    inside the full bench session (pass-2 x100 17.2 s vs 10.4 s) and inside
    the composed daily pipeline (isolated 5.8 s vs 4.5 s; in-bench 8.2 s vs
    4.4 s), where the percentile aggregate's map-side partial keeps the
    post-join relation narrow.  The caller names this route with
    ensemble_threshold_summary(exact_impl="ranks") when its groups are few
    and large (past ~100k rows each): percentile's per-value buffer then
    multiplies per-core buffer/GC pressure for no parallel gain (the r16
    hot-cell skew tier read 11.24 s at 32 cores vs 5.75 s at 8), and one
    sorted pass wins (r17 same-session A/B on that tier: 4.12 s vs 5.15 s
    at 32 cores, 4.36 s vs 5.18 s at 8).

    NULL discipline matches F.percentile/min/max (NULLs ignored for the
    summary: ranks are computed against the non-null count with NULLs sorted
    last) and the when/otherwise(0) exceedance ladder (NULL rows still count
    in the denominator via the unfiltered window avg).
    """
    from pyspark.sql import Window

    gk = list(group_keys)
    flags = [F.when(F.col(value_col) >= F.col(f"threshold_{int(y)}y"),
                    F.lit(1)).otherwise(F.lit(0)).alias(f"_e{int(y)}")
             for y in years]
    pre = joined.select(*gk, F.col(value_col).alias("_v"), *flags)

    # One full-data pass: shuffle by the group keys, sort by value, and
    # compute rank + the unbounded per-group aggregates as window columns
    # (two WindowExecs over ONE Exchange + ONE Sort).  Then drop everything
    # except the <= 6 rows per group that can be a quantile endpoint and
    # finish with a groupBy over those narrow survivors — that second
    # exchange carries ~6 rows/group (it cannot be elided because the float
    # group keys are normalizenanandzero-wrapped in the window's output
    # partitioning, which EnsureRequirements can't match to the raw
    # grouping attributes; at <= 6 rows/group it is noise).
    cell = Window.partitionBy(*gk)
    ordw = cell.orderBy(F.col("_v").asc_nulls_last())
    w = pre.select(
        *gk, "_v",
        F.row_number().over(ordw).alias("_rn"),
        F.count("_v").over(cell).alias("_nn"),
        F.min("_v").over(cell).alias("_mn"),
        F.max("_v").over(cell).alias("_mx"),
        *[F.avg(f"_e{int(y)}").over(cell).alias(f"_p{int(y)}")
          for y in years])

    # keep only rows whose 0-based rank is floor/ceil of a q*(nn-1)
    # position; every group keeps >= 1 row (for an all-NULL group nn == 0
    # puts the position at -q whose ceil 0 matches the first row, a NULL,
    # so the quantiles come out NULL exactly like F.percentile)
    keep_cond = None
    for q in qs:
        pos = F.lit(q) * (F.col("_nn") - 1).cast("double")
        c = (F.col("_rn") - 1 == F.floor(pos)) | \
            (F.col("_rn") - 1 == F.ceil(pos))
        keep_cond = c if keep_cond is None else (keep_cond | c)

    aggs = [F.max(f"_p{int(y)}").alias(f"p_above_{int(y)}y") for y in years]
    aggs += [F.max("_mn").alias("min_dis"), F.max("_mx").alias("max_dis"),
             F.max("_nn").alias("_n")]
    for i, q in enumerate(qs):
        pos = F.lit(q) * (F.col("_nn") - 1).cast("double")
        aggs.append(F.max(F.when(F.col("_rn") - 1 == F.floor(pos),
                                 F.col("_v"))).alias(f"_lo{i}"))
        aggs.append(F.max(F.when(F.col("_rn") - 1 == F.ceil(pos),
                                 F.col("_v"))).alias(f"_hi{i}"))
    g = w.filter(keep_cond).groupBy(*gk).agg(*aggs)

    qcols = []
    for i, (q, name) in enumerate(zip(qs, ("Q1_dis", "median_dis",
                                           "Q3_dis"))):
        pos = F.lit(q) * (F.col("_n") - 1).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        # Percentile.getPercentile's float expression order, verbatim
        qcols.append(F.when(lo == hi, F.col(f"_lo{i}")).otherwise(
            (hi.cast("double") - pos) * F.col(f"_lo{i}")
            + (pos - lo.cast("double")) * F.col(f"_hi{i}")).alias(name))
    p_cols = [f"p_above_{int(y)}y" for y in years]
    return g.select(*gk, *p_cols, "min_dis", *qcols, "max_dis")


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
                               exact_impl: str = "percentile",
                               observation=None) -> DataFrame:
    """forecast (1 row per ensemble member) × thresholds → detailed forecast
    (1 row per cell/step) with p_above_Ny and the value 5-number summary.

    `join_keys` / `group_keys` / `value_col` default to the flood schema but
    are configurable so the operator applies to any ensemble-shaped table;
    `group_keys` may hold column names or Columns.

    `exact_impl` selects how accuracy_mode='exact' computes the quantiles,
    and the caller names the route from the shape it knows — building the
    DataFrame fires no job:
    - 'percentile' (default): one ObjectHashAggregate pass with a map-side
      partial, the winner on many small groups such as the flood grain
      (~51 members per cell/step);
    - 'ranks' ([_exact_summary_via_ranks]): one sorted window pass, the
      winner on a few groups past ~100k rows each.
    Both routes are bit-identical (pinned in tests/test_threshold.py), so
    the choice affects performance only.

    `observation` (a pyspark `Observation`), when given, rides the
    forecast ⋈ thresholds join and reports `join_rows` and `matched_rows`
    (rows whose key found a threshold row) at the first action over the
    result: the fan-out and §1.4 empty-join probes at no extra job.
    """
    if accuracy_mode not in ("approx", "exact"):
        raise ValueError("accuracy_mode must be 'approx' or 'exact'")
    if exact_impl not in ("percentile", "ranks"):
        raise ValueError("exact_impl must be 'percentile' or 'ranks'")
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

    if accuracy_mode == "exact" and exact_impl == "ranks":
        return _exact_summary_via_ranks(joined, group_keys, value_col, years)

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
    aggs += [
        F.min(value_col).alias("min_dis"),
        _quantiles_array(value_col, (0.25, 0.50, 0.75), accuracy_mode)
        .alias("_q"),
        F.max(value_col).alias("max_dis"),
    ]
    p_cols = [f"p_above_{int(y)}y" for y in years]
    return (joined.groupBy(*group_keys).agg(*aggs)
            .select(*group_keys, *p_cols, "min_dis",
                    F.element_at("_q", 1).alias("Q1_dis"),
                    F.element_at("_q", 2).alias("median_dis"),
                    F.element_at("_q", 3).alias("Q3_dis"),
                    "max_dis"))


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
