"""Extreme-value analysis — the flood-frequency statistics a GloFAS-style
user computes FROM the engine's discharge products: Gumbel (EV1) fits of
annual-maximum series via L-moments and the T-year return levels that
define the reference's own 2y/5y/20y threshold bands
(flood/spark/transforms.py joins against exactly such return-period
thresholds — this module is how those thresholds are MADE), plus
peaks-over-threshold declustering and a Gumbel-free GPD tail fit.

Determinism discipline (datapipe/linalg.py): values quantize ONCE to
integer micros; every moment is an exact order-free integer sum; the
only IEEE seams are the two textual-literal multiplications of the
Gumbel closed form (1/ln2, Euler's γ, and the per-period Gumbel variate
y_T = −ln(−ln(1−1/T)) — python-repr doubles embedded IDENTICALLY in the
DuckDB oracles), each quantized floor(+0.5) immediately.  The GPD
method-of-moments fit has ZERO seams: both ξ̂ and σ̂ reduce to exact
integer ratios of n-cleared moments.

Scale posture: annual-maximum series are year-bounded (decades of rows
per cell) and clusters are gap-bounded — the rank window partitions by
cell (never global), declustering is one lag + one running-sum window on
the SAME cell-keyed exchange, and every fit is one group-keyed aggregate
of map-side-combined integer sums.  At 100 TB the plan is scan → cell
exchange → cell-bounded windows → tiny output; no global sort anywhere.

No reference analog; beyond-reference inventory (SURVEY.md §2.11).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flood_data_spark.datapipe.linalg import _idiv_half_up

MICRO = 1_000_000

#: textual double seams of the Gumbel closed form — python-repr literals
#: spliced VERBATIM into the oracles, so both engines multiply the same
#: IEEE-754 doubles (the q_wilson z-constant recipe).
INV_LN2 = 1.0 / math.log(2.0)
EULER_GAMMA = 0.5772156649015329


def gumbel_variate(period: float) -> float:
    """y_T = −ln(−ln(1 − 1/T)), the reduced Gumbel variate at return
    period T (T > 1).  Driver-side python — the same repr literal goes
    into both engines' SQL."""
    return -math.log(-math.log(1.0 - 1.0 / float(period)))


def _mega() -> "F.Column":
    return F.lit(MICRO).cast("decimal(38,0)")


def _micro(col) -> "F.Column":
    """sign(x)·floor(|x|·1e6 + 0.5) — quantize once, pure IEEE."""
    c = col.cast("double")
    return (F.signum(c) * F.floor(F.abs(c) * MICRO + F.lit(0.5))) \
        .cast("long")


def _qseam(col) -> "F.Column":
    """Quantize a derived double seam to its integer micro value —
    floor(+0.5), sign-aware, LONG."""
    return (F.signum(col) * F.floor(F.abs(col) + F.lit(0.5))) \
        .cast("long")


def gumbel_return_levels(df: DataFrame, value_col: str, group_keys,
                         periods=(2, 5, 10, 20, 50, 100)) -> DataFrame:
    """Fit a Gumbel (EV1) distribution to each group's maxima series by
    L-moments (Hosking 1990 — the unbiased-PWM convention hydrology
    standardized on; far more robust than ML on the short annual series
    flood practice has) and emit the T-year return level per requested
    period:

        b0 = Σ x_(i) / n              (sample mean)
        b1 = Σ (i−1)·x_(i) / (n(n−1)) (first probability-weighted moment)
        λ2 = 2·b1 − b0                (second L-moment)
        scale β = λ2 / ln 2,  location ξ = λ1 − γ·β
        x_T = ξ + β · y_T,  y_T = −ln(−ln(1 − 1/T))

    Mechanics: ONE rank window per group (row_number over the quantized
    value — ties contribute identically under any permutation, so the
    rank tiebreak cannot affect the sums), then one group-keyed exchange
    of two exact integer sums.  λ2 and λ1 close in integer space
    (`_idiv_half_up` over the n(n−1)-cleared numerators); β, ξ, and each
    level take one textual-literal IEEE multiply each, quantized
    floor(+0.5) immediately.  Groups with n < 2 or λ2 ≤ 0 (constant
    series) return NULL fits.  Output long-form (keys…, period, n, loc,
    scale, level), sorted.  The periods ride a literal array explode —
    period-bounded, never a shuffle."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("gumbel_return_levels: need at least one "
                         "group key")
    dec = "decimal(38,0)"
    qx = _micro(F.col(value_col))
    w = Window.partitionBy(*keys).orderBy("_qx")
    ranked = (df.select(*keys, qx.alias("_qx"))
              .withColumn("_i", F.row_number().over(w)))
    agg = (ranked.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_qx").cast(dec)).alias("_s0"),
                F.sum((F.col("_i") - F.lit(1)).cast(dec)
                      * F.col("_qx").cast(dec)).alias("_s1")))
    n_dec = F.col("n").cast(dec)
    # λ1 in micro = round(Σqx / n); λ2 numerator n(n−1)-cleared
    lam1 = _idiv_half_up(F.col("_s0"), n_dec)
    lam2_num = F.lit(2).cast(dec) * F.col("_s1") \
        - (n_dec - F.lit(1).cast(dec)) * F.col("_s0")
    # greatest(…, 1): the `ok` PREDICATE evaluates lam2 even for n = 1
    # groups (predicates are not CaseWhen-gated), so the denominator
    # must never be zero under an ANSI session; n < 2 is gated out of
    # every OUTPUT by `ok` regardless of the placeholder quotient.
    lam2 = _idiv_half_up(
        lam2_num,
        F.greatest(n_dec * (n_dec - F.lit(1).cast(dec)),
                   F.lit(1).cast(dec)))
    ok = (F.col("n") >= 2) & (lam2 > 0)
    beta = _qseam(lam2.cast("double") * F.lit(INV_LN2))
    xi = lam1.cast("long") \
        - _qseam(beta.cast("double") * F.lit(EULER_GAMMA))
    fit = agg.select(*keys, "n",
                     F.when(ok, beta).alias("_beta"),
                     F.when(ok, xi).alias("_xi"))
    pairs = F.array(*[
        F.struct(F.lit(int(t)).alias("period"),
                 F.lit(gumbel_variate(t)).alias("_yt"))
        for t in periods])
    mega_f = F.lit(float(MICRO))
    lvl = F.col("_xi").cast("long") \
        + _qseam(F.col("_beta").cast("double") * F.col("_p._yt"))
    return (fit.select(*keys, "n", "_xi", "_beta",
                       F.explode(pairs).alias("_p"))
            .select(*keys, "n", F.col("_p.period").alias("period"),
                    (F.col("_xi").cast("double") / mega_f).alias("loc"),
                    (F.col("_beta").cast("double") / mega_f)
                    .alias("scale"),
                    F.when(F.col("_xi").isNotNull(),
                           lvl.cast("double") / mega_f).alias("level"))
            .orderBy(*keys, "period"))


def pot_decluster(df: DataFrame, value_col: str, order_col: str,
                  group_keys, threshold: float,
                  gap: int) -> DataFrame:
    """Peaks-over-threshold runs declustering (the standard POT
    pre-step — Coles 2001 §4.4): keep exceedances of `threshold`,
    order each group by `order_col` (an integer epoch — seconds,
    days…), and start a NEW cluster whenever the gap since the
    previous exceedance exceeds `gap`.  Emit one row per cluster:
    its peak value, size, and span.

    Gaps-and-islands as two window passes over ONE group-keyed
    exchange (lag → boundary flag → running sum = cluster id), then a
    cluster-keyed aggregate.  The peak is max() of quantized micros —
    exact.  Returns (keys…, cluster, peak, n_exceed, start_o, end_o),
    sorted.  Deterministic for duplicate order values: the boundary
    flag depends only on the gap PREDICATE, and cluster membership is
    order-value-based, so ties permute within a cluster without
    changing any output."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("pot_decluster: need at least one group key")
    exc = (df.filter(F.col(value_col) > F.lit(float(threshold)))
           .select(*keys, F.col(order_col).cast("long").alias("_o"),
                   _micro(F.col(value_col)).alias("_qx")))
    w = Window.partitionBy(*keys).orderBy("_o", "_qx")
    new_flag = F.when(
        F.col("_o") - F.lag("_o", 1).over(w) > F.lit(int(gap)),
        F.lit(1)).otherwise(F.lit(0))
    wrun = (Window.partitionBy(*keys).orderBy("_o", "_qx")
            .rowsBetween(Window.unboundedPreceding, 0))
    clustered = (exc.withColumn("_new", new_flag)
                 .withColumn("cluster", F.sum("_new").over(wrun)))
    mega_f = F.lit(float(MICRO))
    return (clustered.groupBy(*keys, "cluster")
            .agg((F.max("_qx").cast("double") / mega_f).alias("peak"),
                 F.count(F.lit(1)).alias("n_exceed"),
                 F.min("_o").alias("start_o"),
                 F.max("_o").alias("end_o"))
            .orderBy(*keys, "cluster"))


def gpd_moment_fit(df: DataFrame, value_col: str, group_keys,
                   threshold: float) -> DataFrame:
    """Generalized-Pareto tail fit per group by method of moments over
    the excesses y = x − u (u = `threshold`; feed [pot_decluster]
    peaks for the independence the asymptotics assume):

        ξ̂ = (1 − ȳ²/s²) / 2,    σ̂ = ȳ·(ȳ²/s² + 1) / 2

    (Hosking & Wallis 1987; valid for ξ < 1/2, exactly the heavy-but-
    finite-variance tails discharge data shows).  ZERO IEEE seams: with
    quantized excesses, ȳ²/s² = (Σq)² / (n·Σq² − (Σq)²) is an exact
    integer ratio, so ξ̂ and σ̂ close entirely in `_idiv_half_up`
    integer space — the strongest determinism class.  One group-keyed
    exchange of three integer sums.  NULL when n < 2, zero variance, or
    a non-positive mean excess.  Returns (keys…, n, mean_excess, xi,
    sigma), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("gpd_moment_fit: need at least one group key")
    dec = "decimal(38,0)"
    qy = _micro(F.col(value_col) - F.lit(float(threshold)))
    src = df.filter(F.col(value_col) > F.lit(float(threshold))) \
        .select(*keys, qy.cast(dec).alias("_qy"))
    agg = (src.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("_qy").alias("_s"),
                F.sum(F.col("_qy") * F.col("_qy")).alias("_ss")))
    n_dec = F.col("n").cast(dec)
    var_n = n_dec * F.col("_ss") - F.col("_s") * F.col("_s")
    ok = (F.col("n") >= 2) & (var_n > 0) & (F.col("_s") > 0)
    # r = ȳ²/s² in micro: (Σq)²·1e6 / (nΣq² − (Σq)²), exact
    r = _idiv_half_up(F.col("_s") * F.col("_s") * _mega(), var_n)
    xi = _idiv_half_up(_mega() - r, F.lit(2).cast(dec))
    ybar = _idiv_half_up(F.col("_s"), n_dec)
    sigma = _idiv_half_up(ybar * (r + _mega()),
                          F.lit(2).cast(dec) * _mega())
    mega_f = F.lit(float(MICRO))
    return (agg.select(*keys, F.col("n").cast("long").alias("n"),
                       F.when(ok, ybar.cast("double") / mega_f)
                       .alias("mean_excess"),
                       F.when(ok, xi.cast("double") / mega_f)
                       .alias("xi"),
                       F.when(ok, sigma.cast("double") / mega_f)
                       .alias("sigma"))
            .orderBy(*keys))


def doy_climatology(df: DataFrame, value_col: str, ts_col: str,
                    group_keys, percentiles=(0.25, 0.5, 0.75),
                    window: int = 0) -> DataFrame:
    """Day-of-year climatology percentile bands per group — the ESP
    convention (smoothed daily climatology quantiles) that anomaly and
    drought products are read AGAINST; where [gumbel_return_levels]
    manufactures rare-event thresholds, this manufactures the seasonal
    normal band.  Each observation contributes to its day-of-year cell
    and, with `window` = w > 0, to the ±w neighboring cells (the
    standard centered smoothing, CIRCULAR over the 366-day wheel via
    ((doy − 1 + off + 366) mod 366) + 1 — the +366 keeps the mod
    non-negative identically in every engine).  Exact interpolated
    percentiles per cell (Spark `percentile` == DuckDB/numpy
    quantile_cont bit-for-bit — the q_quantile_score precedent), so no
    quantization is needed: values pass through untouched.  One
    (keys, doy)-keyed exchange; the offset explode is (2w+1)-bounded.
    Returns (keys…, doy, n, q<pp>…), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("doy_climatology: need at least one "
                         "group key")
    if window < 0:
        raise ValueError("doy_climatology: window must be >= 0")
    offs = F.explode(F.array(*[F.lit(i) for i in
                               range(-window, window + 1)])) \
        .alias("_off")
    base = df.select(*keys, F.dayofyear(F.col(ts_col)).alias("_doy"),
                     F.col(value_col).alias("_v"))
    sm = (base.select(*keys, "_doy", "_v", offs)
          .select(*keys,
                  (((F.col("_doy") - 1 + F.col("_off") + 366) % 366)
                   + 1).alias("doy"), "_v"))
    # exact per-cell quantiles from one sorted array per (keys, doy) cell
    # (stats.rank_quantiles, equal to F.percentile)
    from flood_data_spark.operators.stats import rank_quantiles
    names = [f"q{int(round(p * 100)):02d}" for p in percentiles]
    rq = rank_quantiles(sm, [*keys, "doy"], "_v",
                        [float(p) for p in percentiles], names)
    return (rq.withColumnRenamed("n_rows", "n")
            .select(*keys, "doy", "n", *names)
            .orderBy(*keys, "doy"))


def drought_runs(df: DataFrame, value_col: str, order_col: str,
                 group_keys, threshold: float,
                 step: int = 1) -> DataFrame:
    """Runs-theory drought analysis (Yevjevich 1967) — the low-flow
    mirror of [pot_decluster]: keep deficits BELOW `threshold`, and a
    run continues while consecutive deficit points are at most `step`
    apart on the integer `order_col` axis (feed a daily series with
    step = 1 and a missing day breaks the run — the standard
    consecutive-days convention).  Per run emit the three canonical
    run statistics:

        duration  = #points,   severity = Σ (threshold − x),
        intensity = severity / duration,   plus min value and span.

    Same two-window gaps-and-islands exchange as the POT decluster
    (lag → boundary flag → running id on ONE cell-keyed sort);
    deficits quantize ONCE to integer micros (≥ 0 by the filter), so
    severity is an exact integer sum and intensity closes in
    `_idiv_half_up` integer space.  Returns (keys…, run, start_o,
    end_o, duration, severity, intensity, min_value), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("drought_runs: need at least one group key")
    dec = "decimal(38,0)"
    exc = (df.filter(F.col(value_col) < F.lit(float(threshold)))
           .select(*keys, F.col(order_col).cast("long").alias("_o"),
                   _micro(F.col(value_col)).alias("_qx"),
                   _micro(F.lit(float(threshold))
                          - F.col(value_col)).alias("_qd")))
    w = Window.partitionBy(*keys).orderBy("_o", "_qx")
    new_flag = F.when(
        F.col("_o") - F.lag("_o", 1).over(w) > F.lit(int(step)),
        F.lit(1)).otherwise(F.lit(0))
    wrun = (Window.partitionBy(*keys).orderBy("_o", "_qx")
            .rowsBetween(Window.unboundedPreceding, 0))
    runs = (exc.withColumn("_new", new_flag)
            .withColumn("run", F.sum("_new").over(wrun)))
    mega_f = F.lit(float(MICRO))
    sev = F.sum(F.col("_qd").cast(dec))
    n = F.count(F.lit(1))
    return (runs.groupBy(*keys, "run")
            .agg(F.min("_o").alias("start_o"),
                 F.max("_o").alias("end_o"),
                 n.cast("long").alias("duration"),
                 (sev.cast("double") / mega_f).alias("severity"),
                 (_idiv_half_up(sev, n.cast(dec)).cast("double")
                  / mega_f).alias("intensity"),
                 (F.min("_qx").cast("double") / mega_f)
                 .alias("min_value"))
            .orderBy(*keys, "run"))


def plotting_positions(df: DataFrame, value_col: str, group_keys,
                       method: str = "weibull") -> DataFrame:
    """Empirical plotting positions + return periods per group — the
    rank-based counterpart the [gumbel_return_levels] fit is DRAWN
    AGAINST on every flood-frequency plot:

        weibull:     p_i = i / (n+1)
        gringorten:  p_i = (i − 0.44) / (n + 0.12)     (EV1-optimal)

    with T_i = 1/(1−p_i) the empirical return period of the i-th
    smallest maximum.  ENTIRELY integer: Gringorten's decimals clear
    by 100 — p = (100i − 44)/(100n + 12), T = (100n + 12)/(100(n−i)
    + 56) — so both columns are exact `_idiv_half_up` ratios with
    zero seams.  One rank window per group (ties swap ranks between
    identical values — the output multiset is permutation-invariant).
    Returns (keys…, rank, value, p, t_years), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("plotting_positions: need at least one "
                         "group key")
    if method not in ("weibull", "gringorten"):
        raise ValueError(f"plotting_positions: unknown method "
                         f"{method!r}")
    dec = "decimal(38,0)"
    mega = F.lit(MICRO).cast(dec)
    mega_f = F.lit(float(MICRO))
    w = Window.partitionBy(*keys).orderBy("value")
    wn = Window.partitionBy(*keys)
    ranked = (df.select(*keys, F.col(value_col).alias("value"))
              .withColumn("rank", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(wn)))
    i = F.col("rank").cast(dec)
    n = F.col("_n").cast(dec)
    h = F.lit(100).cast(dec)
    if method == "weibull":
        p_num, p_den = i, n + F.lit(1).cast(dec)
        t_num, t_den = (n + F.lit(1).cast(dec),
                        n + F.lit(1).cast(dec) - i)
    else:
        p_num = h * i - F.lit(44).cast(dec)
        p_den = h * n + F.lit(12).cast(dec)
        t_num = h * n + F.lit(12).cast(dec)
        t_den = h * (n - i) + F.lit(56).cast(dec)
    from flood_data_spark.datapipe.linalg import _idiv_half_up
    return (ranked.select(
        *keys, "rank", "value",
        (_idiv_half_up(p_num * mega, p_den).cast("double") / mega_f)
        .alias("p"),
        (_idiv_half_up(t_num * mega, t_den).cast("double") / mega_f)
        .alias("t_years"))
        .orderBy(*keys, "rank"))


def low_flow_mam(df: DataFrame, value_col: str, order_col: str,
                 group_keys, window: int = 7) -> DataFrame:
    """MAM_w low-flow statistic per group (the Minimum Annual w-day
    Mean — MAM7 with its frequency curve is THE European low-flow
    design family, the drought mirror of the AMS maxima
    [gumbel_return_levels] fits):

        MAM_w = min over t of mean(q_{t−w+1} … q_t),
                COMPLETE windows only (a gap day voids the window —
                the consecutive-days convention of [drought_runs])

    Flows quantize ONCE to integer micros; each w-step mean is an
    exact `_idiv_half_up` integer ratio over a RANGE frame on the
    integer day axis (gaps shrink the in-frame count, and the
    count == w predicate voids those windows — no gap-fill join
    needed); the minimum picks among engine-identical integers.  One
    group-keyed range-frame window + one group aggregate.  Returns
    (keys…, n_windows, mam), sorted; groups with no complete window
    report NULL."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_keys)
    if not keys:
        raise ValueError("low_flow_mam: need at least one group key")
    if window < 1:
        raise ValueError("low_flow_mam: window must be >= 1")
    dec = "decimal(38,0)"
    c = F.col(value_col).cast("double")
    qx = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    src = df.select(*keys, F.col(order_col).cast("long").alias("_o"),
                    qx.alias("_qx"))
    w = (Window.partitionBy(*keys).orderBy("_o")
         .rangeBetween(-(int(window) - 1), 0))
    framed = (src
              .withColumn("_ws", F.sum(F.col("_qx").cast(dec)).over(w))
              .withColumn("_wc", F.count(F.lit(1)).over(w)))
    mean_w = F.when(F.col("_wc") == window,
                    _idiv_half_up(F.col("_ws"),
                                  F.lit(int(window)).cast(dec)))
    agg = (framed.select(*keys, mean_w.alias("_mw"))
           .groupBy(*keys)
           .agg(F.count("_mw").cast("long").alias("n_windows"),
                F.min("_mw").alias("_mam")))
    return (agg.select(*keys, "n_windows",
                       (F.col("_mam").cast("double") / F.lit(1e6))
                       .alias("mam"))
            .orderBy(*keys))


def standardized_anomaly(df: DataFrame, value_col: str, ts_col: str,
                         group_keys, window: int = 0) -> DataFrame:
    """Standardized anomaly against the day-of-year climatology — the
    z-scored product read off [doy_climatology]'s wheel (the SPI-
    family shape with the distribution fit replaced by the plain
    moment normal — the documented simplification):

        z_t = (x_t − μ_doy) / σ_doy

    with μ/σ the per-(keys, doy) climatological moments over the ±w
    circular window.  Values quantize ONCE; μ closes in integer space,
    σ·n takes the n-cleared sqrt seam (floor(+0.5)), and z is an
    exact integer ratio of (n·qx − n·μ… cleared) — concretely
    z = (qx − μq)·1e6 / σq with both μq, σq integer micros.  Two
    exchanges: the climatology aggregate (cells × 366 bounded) joins
    back BROADCAST onto the observation stream keyed by (keys, doy).
    Rows whose cell has σ = 0 or fewer than 2 contributions report
    NULL z.  Returns (keys…, ts, value, doy, z), sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("standardized_anomaly: need at least one "
                         "group key")
    if window < 0:
        raise ValueError("standardized_anomaly: window must be >= 0")
    dec = "decimal(38,0)"
    qx = _micro(F.col(value_col))
    base = df.select(*keys, F.col(ts_col).alias("ts"),
                     F.col(value_col).alias("value"),
                     F.dayofyear(F.col(ts_col)).alias("doy"),
                     qx.alias("_qx"))
    offs = F.explode(F.array(*[F.lit(i) for i in
                               range(-window, window + 1)])) \
        .alias("_off")
    clim = (base.select(*keys, "doy", "_qx", offs)
            .select(*keys,
                    (((F.col("doy") - 1 + F.col("_off") + 366) % 366)
                     + 1).alias("doy"),
                    F.col("_qx").cast(dec).alias("_q"))
            .groupBy(*keys, "doy")
            .agg(F.count(F.lit(1)).alias("_cn"),
                 F.sum("_q").alias("_cs"),
                 F.sum(F.col("_q") * F.col("_q")).alias("_css")))
    cn = F.col("_cn").cast(dec)
    mu = _idiv_half_up(F.col("_cs"), cn)
    var_n = cn * F.col("_css") - F.col("_cs") * F.col("_cs")
    # σ·n = sqrt(n·Σq² − (Σq)²), so σq = that sqrt seam / n — closed
    # as ONE integer ratio after the quantized sqrt
    sigq = _idiv_half_up(
        F.floor(F.sqrt(var_n.cast("double")) + F.lit(0.5)).cast(dec),
        cn)
    climf = clim.select(*keys, "doy", F.col("_cn").alias("_cn"),
                        mu.alias("_mu"), sigq.alias("_sig"))
    j = base.join(F.broadcast(climf), [*keys, "doy"])
    z = F.when((F.col("_cn") >= 2) & (F.col("_sig") > 0),
               _idiv_half_up(
                   (F.col("_qx").cast(dec) - F.col("_mu"))
                   * F.lit(MICRO).cast(dec),
                   F.greatest(F.col("_sig"), F.lit(1).cast(dec)))
               .cast("double") / F.lit(float(MICRO)))
    return (j.select(*keys, "ts", "value", "doy", z.alias("z"))
            .orderBy(*keys, "ts", "value"))


def frequency_qq(df: DataFrame, value_col: str, group_keys,
                 method: str = "gringorten") -> DataFrame:
    """The composed flood-frequency QQ relation — [plotting_positions]
    joined against the [gumbel_return_levels] fit, evaluating the
    fitted quantile AT each empirical plotting position:

        fitted_i = ξ + β·(−ln(−ln p_i)),   residual_i = x_(i) − fitted_i

    — the table behind every frequency-analysis QQ plot, and the
    operational goodness-of-fit check before a fitted threshold band
    ships.  Exact chain: the integer micro ξ/β recover exactly from
    the fit's /1e6 doubles (floor(+0.5) of value·1e6 — lossless for
    micro-derived doubles), p is already an exact micro ratio, and
    the per-row Gumbel variate is ONE quantized seam; residuals close
    in integer space.  Groups whose fit is NULL emit NULL
    fitted/residual.  Returns (keys…, rank, value, p, fitted,
    residual), sorted."""
    keys = list(group_keys)
    pp = plotting_positions(df, value_col, keys, method)
    fit = (gumbel_return_levels(df, value_col, keys, periods=(2,))
           .filter(F.col("period") == 2)
           .select(*keys, F.col("loc").alias("_loc"),
                   F.col("scale").alias("_scale")))
    j = pp.join(fit, keys, "left")
    loc_mic = _qseam(F.col("_loc") * F.lit(1e6))
    scale_mic = _qseam(F.col("_scale") * F.lit(1e6))
    y = -F.log(-F.log(F.col("p")))
    fitted_mic = loc_mic + _qseam(scale_mic.cast("double") * y)
    val_mic = _micro(F.col("value"))
    mega_f = F.lit(float(MICRO))
    fitted = F.when(F.col("_loc").isNotNull(),
                    fitted_mic.cast("double") / mega_f)
    residual = F.when(F.col("_loc").isNotNull(),
                      (val_mic - fitted_mic).cast("double") / mega_f)
    return (j.select(*keys, "rank", "value", "p",
                     fitted.alias("fitted"),
                     residual.alias("residual"))
            .orderBy(*keys, "rank"))


#: Abramowitz & Stegun 6.1.36 polynomial for Γ(1+x) on x ∈ [0, 1]
#: (|ε| < 3e-7 — invisible at the micro quantization grid).  Literal
#: coefficients spliced verbatim into the oracles: DuckDB's gamma()
#: would NOT match Spark bit-for-bit, the SHARED polynomial does.
GAMMA_P = (1.0, -0.577191652, 0.988205891, -0.897056937, 0.918206857,
           -0.756704078, 0.482199394, -0.193527818, 0.035868343)

LN2_OVER_LN3 = math.log(2.0) / math.log(3.0)
GEV_K1 = 7.859  # Hosking 1985 κ(c) polynomial
GEV_K2 = 2.9554


def _gamma1p_sql(x: str) -> str:
    """Γ(1+x) for x ∈ (−0.5, 1] as the A&S polynomial (with the
    reflection Γ(1+x) = Γ(2+x)/(1+x) for negative x) — a TEXTUAL
    expression template shared by the Spark operator (via F.expr) and
    the DuckDB oracle, so both engines evaluate the identical IEEE
    tree."""
    # powers inlined as repeated multiplication — the relation this
    # evaluates on is group-bounded (one row per cell), so the
    # expression width is harmless
    def poly_at(arg):
        p = f"({GAMMA_P[0]!r})"
        for i, c in enumerate(GAMMA_P[1:], start=1):
            pw = " * ".join([f"({arg})"] * i)
            p += f" + ({c!r}) * {pw}"
        return f"({p})"
    return (f"(CASE WHEN ({x}) >= 0.0 THEN {poly_at(x)} "
            f"ELSE {poly_at(f'(1.0 + ({x}))')} / (1.0 + ({x})) END)")


def gev_return_levels(df: DataFrame, value_col: str, group_keys,
                      periods=(2, 5, 10, 20, 50, 100)) -> DataFrame:
    """Fit a GEV distribution to each group's maxima series by
    L-moments (Hosking et al. 1985 — THE flood-frequency estimator;
    [gumbel_return_levels] is its κ = 0 special case) and emit T-year
    return levels:

        t3 = λ3/λ2,   c = 2/(3+t3) − ln2/ln3,
        κ  = 7.859c + 2.9554c²
        σ  = λ2·κ / (Γ(1+κ)(1 − 2^{−κ})),
        ξ  = λ1 + σ(Γ(1+κ) − 1)/κ
        x_T = ξ + σ/κ·(1 − y_T^κ),   y_T = −ln(1 − 1/T)

    Exactness ladder: the three PWMs are integer sums off ONE rank
    window; t3 closes as an EXACT integer ratio (the n-cleared
    denominators cancel to (n−2)·λ2num); c/κ/Γ/σ/ξ and each level are
    bounded textual double seams quantized floor(+0.5) to micro —
    with Γ(1+κ) as a SHARED literal polynomial (A&S 6.1.36 + negative
    reflection), because engine-native gamma() implementations don't
    match bit-for-bit.  Degenerate groups (n < 3, λ2 ≤ 0, or κ
    rounding to exactly 0 — the Gumbel limit, use
    [gumbel_return_levels] there) return NULL fits, and so do groups
    whose quantized κ falls outside |κ| ≤ 0.5 — the domain where BOTH
    the Hosking κ(c) approximation and the A&S Γ(1+x) polynomial are
    valid (Hosking et al. 1985 quote the κ(c) fit for |t3| ≲ 0.5;
    A&S 6.1.36 covers x ∈ (−0.5, 1]); beyond it the chain would emit
    plausible-looking but wrong fits, so it emits NULL instead.  Returns (keys…,
    n, kappa, loc, scale, level) long-form per period, sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("gev_return_levels: need at least one "
                         "group key")
    dec = "decimal(38,0)"
    qx = _micro(F.col(value_col))
    w = Window.partitionBy(*keys).orderBy("_qx")
    ranked = (df.select(*keys, qx.alias("_qx"))
              .withColumn("_i", F.row_number().over(w)))
    i_dec = F.col("_i").cast(dec)
    one = F.lit(1).cast(dec)
    two = F.lit(2).cast(dec)
    agg = (ranked.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_qx").cast(dec)).alias("_s0"),
                F.sum((i_dec - one) * F.col("_qx").cast(dec))
                .alias("_s1"),
                F.sum((i_dec - one) * (i_dec - two)
                      * F.col("_qx").cast(dec)).alias("_s2")))
    n_dec = F.col("n").cast(dec)
    lam1 = _idiv_half_up(F.col("_s0"), n_dec)
    lam2_num = two * F.col("_s1") - (n_dec - one) * F.col("_s0")
    lam2_den = F.greatest(n_dec * (n_dec - one), one)
    lam2 = _idiv_half_up(lam2_num, lam2_den)
    six = F.lit(6).cast(dec)
    t3_num = (six * F.col("_s2")
              - six * (n_dec - two) * F.col("_s1")
              + (n_dec - one) * (n_dec - two) * F.col("_s0"))
    t3_den = (n_dec - two) * lam2_num
    ok0 = (F.col("n") >= 3) & (lam2 > 0) & (t3_den != 0)
    t3q = _idiv_half_up(
        t3_num * F.lit(MICRO).cast(dec),
        F.when(t3_den != 0, t3_den).otherwise(one))
    base = agg.select(*keys, "n", ok0.alias("_ok0"),
                      lam1.alias("_lam1"), lam2.alias("_lam2"),
                      t3q.alias("_t3q"))
    # seam chain (each one textual, quantized once) — all via F.expr
    # so the oracle can restate the IDENTICAL strings
    c_expr = (f"2.0 / (3.0 + CAST(_t3q AS DOUBLE) / 1000000.0) "
              f"- ({LN2_OVER_LN3!r})")
    base = base.withColumn(
        "_cq", F.expr(f"CASE WHEN _ok0 THEN cast(sign({c_expr}) * "
                      f"floor(abs({c_expr}) * 1000000e0 + 5e-1) "
                      f"as long) END"))
    k_expr = (f"(({GEV_K1!r}) * (CAST(_cq AS DOUBLE) / 1000000.0) "
              f"+ ({GEV_K2!r}) * (CAST(_cq AS DOUBLE) / 1000000.0) "
              f"* (CAST(_cq AS DOUBLE) / 1000000.0))")
    base = base.withColumn(
        "_kq", F.expr(f"CASE WHEN _ok0 THEN cast(sign({k_expr}) * "
                      f"floor(abs({k_expr}) * 1000000e0 + 5e-1) "
                      f"as long) END"))
    kd = "(CAST(_kq AS DOUBLE) / 1000000.0)"
    g_expr = _gamma1p_sql(kd)
    base = base.withColumn(
        "_gq", F.expr(f"CASE WHEN _ok0 AND _kq IS NOT NULL AND "
                      f"_kq <> 0 AND abs(_kq) <= 500000 THEN "
                      f"cast(floor({g_expr} * 1000000e0 "
                      f"+ 5e-1) as long) END"))
    gd = "(CAST(_gq AS DOUBLE) / 1000000.0)"
    lam2d = "(CAST(_lam2 AS DOUBLE) / 1000000.0)"
    # 2^{-k} as exp(-k·ln2) with a repr literal: java Math.pow and
    # libm pow are NOT bit-identical across engines, exp/ln are
    # (proven by every ln/exp seam gate since round 8)
    sig_expr = (f"({lam2d} * {kd} / ({gd} * (1.0 - exp(-({kd}) "
                f"* ({math.log(2.0)!r})))))")
    base = base.withColumn(
        "_sq", F.expr(f"CASE WHEN _gq IS NOT NULL THEN "
                      f"cast(sign({sig_expr}) * floor(abs({sig_expr}) "
                      f"* 1000000e0 + 5e-1) as long) END"))
    sd = "(CAST(_sq AS DOUBLE) / 1000000.0)"
    xi_expr = f"({sd} * ({gd} - 1.0) / {kd})"
    base = base.withColumn(
        "_xq", F.expr(f"CASE WHEN _sq IS NOT NULL THEN _lam1 + "
                      f"cast(sign({xi_expr}) * floor(abs({xi_expr}) "
                      f"* 1000000e0 + 5e-1) as long) END"))
    # carry ln(y_T) as the literal: y_T^k = exp(k·ln y_T)
    pairs = F.array(*[
        F.struct(F.lit(int(t)).alias("period"),
                 F.lit(math.log(-math.log(1.0 - 1.0 / float(t))))
                 .alias("_lyt"))
        for t in periods])
    lvl_expr = (f"({sd} / {kd} * (1.0 - exp({kd} * _p._lyt)))")
    mega_f = F.lit(float(MICRO))
    out = (base.select(*keys, "n", "_kq", "_sq", "_xq",
                       F.explode(pairs).alias("_p"))
           .withColumn(
               "_lq", F.expr(f"CASE WHEN _xq IS NOT NULL THEN _xq + "
                             f"cast(sign({lvl_expr}) * "
                             f"floor(abs({lvl_expr}) * 1000000e0 "
                             f"+ 5e-1) as long) END")))
    return (out.select(
        *keys, "n", F.col("_p.period").alias("period"),
        (F.col("_kq").cast("double") / mega_f).alias("kappa"),
        (F.when(F.col("_xq").isNotNull(),
                F.col("_xq").cast("double") / mega_f)).alias("loc"),
        (F.when(F.col("_sq").isNotNull(),
                F.col("_sq").cast("double") / mega_f)).alias("scale"),
        (F.when(F.col("_lq").isNotNull(),
                F.col("_lq").cast("double") / mega_f)).alias("level"))
        .orderBy(*keys, "period"))


def lmoment_ratios(df: DataFrame, value_col: str,
                   group_keys) -> DataFrame:
    """Sample L-moment ratios per group — the coordinates of the
    L-moment ratio diagram (Hosking & Wallis 1997) that regional
    frequency analysis uses to CHOOSE the distribution family before
    any [gev_return_levels]/[gumbel_return_levels] fit ships:

        l1 = λ1 (L-location),     t2 = λ2/λ1 (L-CV),
        t3 = λ3/λ2 (L-skewness),  t4 = λ4/λ2 (L-kurtosis)

    ENTIRELY integer: with the PWM numerators S_k = Σ (i−1)⋯(i−k)
    x_(i) off ONE rank window, the factorial denominators cancel so
    every ratio closes as a single exact `_idiv_half_up` —

        t2 = A/((n−1)S0),  t3 = B/((n−2)A),  t4 = C/((n−2)(n−3)A)
        A = 2S1 − (n−1)S0
        B = 6S2 − 6(n−2)S1 + (n−1)(n−2)S0
        C = 20S3 − 30(n−3)S2 + 12(n−2)(n−3)S1 − (n−1)(n−2)(n−3)S0

    — ZERO IEEE seams, the package's strongest determinism class.
    Requires n ≥ 4, λ1 > 0 (positive-data L-CV convention), λ2 > 0;
    NULL ratios otherwise.  Returns (keys…, n, l1, t2, t3, t4),
    sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("lmoment_ratios: need at least one group key")
    dec = "decimal(38,0)"
    qx = _micro(F.col(value_col))
    w = Window.partitionBy(*keys).orderBy("_qx")
    ranked = (df.select(*keys, qx.alias("_qx"))
              .withColumn("_i", F.row_number().over(w)))
    i_dec = F.col("_i").cast(dec)
    one = F.lit(1).cast(dec)
    two = F.lit(2).cast(dec)
    three = F.lit(3).cast(dec)
    x = F.col("_qx").cast(dec)
    agg = (ranked.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(x).alias("_s0"),
                F.sum((i_dec - one) * x).alias("_s1"),
                F.sum((i_dec - one) * (i_dec - two) * x).alias("_s2"),
                F.sum((i_dec - one) * (i_dec - two) * (i_dec - three)
                      * x).alias("_s3")))
    n_dec = F.col("n").cast(dec)
    s0, s1, s2, s3 = (F.col(c) for c in ("_s0", "_s1", "_s2", "_s3"))
    a = two * s1 - (n_dec - one) * s0
    b = (F.lit(6).cast(dec) * s2
         - F.lit(6).cast(dec) * (n_dec - two) * s1
         + (n_dec - one) * (n_dec - two) * s0)
    c = (F.lit(20).cast(dec) * s3
         - F.lit(30).cast(dec) * (n_dec - three) * s2
         + F.lit(12).cast(dec) * (n_dec - two) * (n_dec - three) * s1
         - (n_dec - one) * (n_dec - two) * (n_dec - three) * s0)
    mega = F.lit(MICRO).cast(dec)
    mega_f = F.lit(float(MICRO))
    ok = (F.col("n") >= 4) & (s0 > 0) & (a > 0)
    l1 = _idiv_half_up(s0, n_dec)
    t2 = _idiv_half_up(a * mega,
                       F.greatest((n_dec - one) * s0, one))
    t3 = _idiv_half_up(b * mega,
                       F.greatest((n_dec - two) * a, one))
    t4 = _idiv_half_up(c * mega,
                       F.greatest((n_dec - two) * (n_dec - three) * a,
                                  one))
    return (agg.select(*keys, F.col("n").cast("long").alias("n"),
                       (l1.cast("double") / mega_f).alias("l1"),
                       F.when(ok, t2.cast("double") / mega_f)
                       .alias("t2"),
                       F.when(ok, t3.cast("double") / mega_f)
                       .alias("t3"),
                       F.when(ok, t4.cast("double") / mega_f)
                       .alias("t4"))
            .orderBy(*keys))


def spi_empirical(df: DataFrame, value_col: str, group_keys,
                  order_col: str) -> DataFrame:
    """Empirical Standardized Precipitation/Streamflow Index per
    observation (McKee et al. 1993 index; the distribution-free
    plotting-position variant of Farahmand & AghaKouchak 2015 — no
    parametric gamma fit, so it is robust to the zero-inflated,
    mixed-distribution accumulations real basins produce):

        p_i  = (i − 0.44) / (n + 0.12)      (Gringorten position)
        SPI_i = Φ⁻¹(p_i)

    per climatology group (typically cell × calendar-month, so each
    group is one station-month's multi-year sample).  Exactness: the
    rank i comes off ONE group-keyed window ordered by (value,
    `order_col`) — the secondary key makes ties deterministic; p_i is
    the EXACT integer ratio (100i − 44)·1e6 / (100n + 12); Φ⁻¹ is the
    shared Acklam rational seam (functions/distributions.invnorm_sql
    — the same literal text in both engines), quantized ONCE to
    micro.  The micro-quantized position is CLAMPED to [1, 999999]:
    once a climatology group exceeds ~1.1 M rows the exact ratio
    rounds to 0 or 1e6 at the sample extremes, which would trip the
    seam's NULL branch — the clamp pins those rows to ±Φ⁻¹(1e-6)
    ≈ ±4.75, the representable edge of the micro grid (round-15
    ADVICE fix; below that group size the clamp is a no-op).

    Scale posture: one cell-month exchange, a window and a projection
    — no join, no global sort; at 100 TB the plan is scan → group
    exchange → done, and the probit is a pure codegen expression.
    Returns (keys…, `order_col`, value, n, p, spi), sorted."""
    from flood_data_spark.functions.distributions import invnorm_sql

    keys = list(group_keys)
    if not keys:
        raise ValueError("spi_empirical: need at least one group key")
    dec = "decimal(38,0)"
    w = Window.partitionBy(*keys).orderBy("_qx", order_col)
    wn = (Window.partitionBy(*keys)
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    ranked = (df.select(*keys, F.col(order_col),
                        F.col(value_col).alias("value"),
                        _micro(F.col(value_col)).alias("_qx"))
              .withColumn("_i", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(wn)
                          .cast("long")))
    hundred = F.lit(100).cast(dec)
    pq = _idiv_half_up(
        (hundred * F.col("_i").cast(dec) - F.lit(44).cast(dec))
        * F.lit(MICRO).cast(dec),
        hundred * F.col("n").cast(dec) + F.lit(12).cast(dec))
    # Clamp to the open-interval micro grid so groups > ~1.1M rows
    # can't round the extreme positions to 0/1e6 (probit NULL).
    pq = F.greatest(F.lit(1).cast(dec),
                    F.least(F.lit(MICRO - 1).cast(dec), pq))
    # r16: the probit is evaluated through single-element `transform`
    # lambdas so the Acklam rational appears in the plan ONCE as a
    # lambda body over a leaf variable.  Splicing its ~3 KB text twice
    # (sign/abs) and letting CollapseProject inline _pq into every one
    # of its ~9 p-sites blew the optimized plan up to ~89 KB, and the
    # downstream consumer (drought_runs' filter/quantize, which
    # re-references `spi` five more times) multiplied it again —
    # measured 8-12 s per execution of the 186-row gate composition,
    # ~1.5 s of it pure Catalyst, the rest codegen over the monster.
    # With the wrap: 1.7-4.2 s, values bit-identical (the lambda body
    # is the same double arithmetic in the same order).
    probit_l = invnorm_sql("(CAST(pv AS DOUBLE) / 1000000.0)")
    sq = F.expr(
        f"transform(array(_pq), pv -> "
        f"transform(array({probit_l}), pb -> "
        f"cast(sign(pb) * floor(abs(pb) * 1000000e0 + 5e-1) as long)"
        f")[0])[0]")
    out = ranked.withColumn("_pq", pq).withColumn("_sq", sq)
    mega_f = F.lit(float(MICRO))
    return (out.select(*keys, order_col, "value", "n",
                       (F.col("_pq").cast("double") / mega_f)
                       .alias("p"),
                       (F.col("_sq").cast("double") / mega_f)
                       .alias("spi"))
            .orderBy(*keys, order_col, "value"))


def regional_growth_curve(df: DataFrame, value_col: str, region_keys,
                          site_col: str,
                          periods=(10, 100)) -> DataFrame:
    """Index-flood regional frequency analysis (Hosking & Wallis 1997
    ch. 6 — the operational standard for estimating return levels at
    short-record sites): pool the sites of a homogeneous region,
    average their SCALE-INVARIANT L-moment ratios weighted by record
    length, fit ONE regional GEV growth curve q(T) with λ1 ≡ 1, and
    scale it by each site's index flood (its at-site mean):

        t2_R = Σ nᵢ·t2ᵢ / Σ nᵢ,   t3_R likewise    (nᵢ-weighted)
        κ, σ_R, ξ_R from (λ1 = 1, λ2 = t2_R, t3_R)  — [gev_return_levels]'s
        seam chain with λ1 pinned to one
        x_T(site i) = ℓ1ᵢ · q(T),   q(T) = ξ_R + σ_R/κ·(1 − y_T^κ)

    Exactness: per-site PWMs are the same ONE rank window as
    [gev_return_levels]; t2ᵢ = λ2/λ1 and t3ᵢ close as exact integer
    micro ratios (scale-invariant, so NO normalization pass over the
    data); the regional averages are exact integer ratios of micro
    sums; the κ/Γ/σ/ξ/level chain reuses the shared textual seams with
    the SAME |κ| ≤ 0.5 domain gate; the final site level is one exact
    micro×micro/1e6 integer ratio.  Sites with n < 3 or non-positive
    λ2 are EXCLUDED from the regional average (weight 0) but still
    receive the regional growth curve.

    Scale posture: one site-keyed exchange (rank window + aggregate),
    one region-keyed aggregate over site-count-bounded rows, then the
    region fit (tiny) broadcast back onto sites.  Returns (region…,
    site, n, period, growth, level), sorted."""
    keys = list(region_keys)
    if not keys:
        raise ValueError("regional_growth_curve: need at least one "
                         "region key")
    dec = "decimal(38,0)"
    qx = _micro(F.col(value_col))
    ranked = (df.select(*keys, F.col(site_col).alias("site"),
                        qx.alias("_qx"))
              .withColumn("_i", F.row_number().over(
                  Window.partitionBy(*keys, "site").orderBy("_qx"))))
    i_dec = F.col("_i").cast(dec)
    one = F.lit(1).cast(dec)
    two = F.lit(2).cast(dec)
    mega = F.lit(MICRO).cast(dec)
    site = (ranked.groupBy(*keys, "site")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("_qx").cast(dec)).alias("_s0"),
                 F.sum((i_dec - one) * F.col("_qx").cast(dec))
                 .alias("_s1"),
                 F.sum((i_dec - one) * (i_dec - two)
                       * F.col("_qx").cast(dec)).alias("_s2")))
    n_dec = F.col("n").cast(dec)
    lam2n = two * F.col("_s1") - (n_dec - one) * F.col("_s0")
    t3n = (F.lit(6).cast(dec) * F.col("_s2")
           - F.lit(6).cast(dec) * (n_dec - two) * F.col("_s1")
           + (n_dec - one) * (n_dec - two) * F.col("_s0"))
    oks = (F.col("n") >= 3) & (F.col("_s0") > 0) & (lam2n > 0)
    site = site.select(
        *keys, "site", "n",
        _idiv_half_up(F.col("_s0"), n_dec).alias("_l1"),
        oks.alias("_oks"),
        F.when(oks, _idiv_half_up(lam2n * mega,
                                  (n_dec - one) * F.col("_s0")))
        .alias("_t2q"),
        F.when(oks, _idiv_half_up(t3n * mega, (n_dec - two) * lam2n))
        .alias("_t3q"))
    reg = (site.groupBy(*keys)
           .agg(F.sum(F.when(F.col("_oks"), F.col("n")).otherwise(0))
                .cast(dec).alias("_wn"),
                F.sum(F.when(F.col("_oks"),
                             F.col("n").cast(dec)
                             * F.col("_t2q").cast(dec)))
                .alias("_wt2"),
                F.sum(F.when(F.col("_oks"),
                             F.col("n").cast(dec)
                             * F.col("_t3q").cast(dec)))
                .alias("_wt3")))
    okr = F.col("_wn") > 0
    reg = reg.select(
        *keys, okr.alias("_okr"),
        F.when(okr, _idiv_half_up(F.col("_wt2"), F.col("_wn")))
        .alias("_t2r"),
        F.when(okr, _idiv_half_up(F.col("_wt3"), F.col("_wn")))
        .alias("_t3q"))
    # the [gev_return_levels] seam chain with λ1 = 1, λ2 = t2_R —
    # identical textual expressions, regional attribute names
    c_expr = (f"2.0 / (3.0 + CAST(_t3q AS DOUBLE) / 1000000.0) "
              f"- ({LN2_OVER_LN3!r})")
    reg = reg.withColumn(
        "_cq", F.expr(f"CASE WHEN _okr THEN cast(sign({c_expr}) * "
                      f"floor(abs({c_expr}) * 1000000e0 + 5e-1) "
                      f"as long) END"))
    k_expr = (f"(({GEV_K1!r}) * (CAST(_cq AS DOUBLE) / 1000000.0) "
              f"+ ({GEV_K2!r}) * (CAST(_cq AS DOUBLE) / 1000000.0) "
              f"* (CAST(_cq AS DOUBLE) / 1000000.0))")
    reg = reg.withColumn(
        "_kq", F.expr(f"CASE WHEN _okr THEN cast(sign({k_expr}) * "
                      f"floor(abs({k_expr}) * 1000000e0 + 5e-1) "
                      f"as long) END"))
    kd = "(CAST(_kq AS DOUBLE) / 1000000.0)"
    g_expr = _gamma1p_sql(kd)
    reg = reg.withColumn(
        "_gq", F.expr(f"CASE WHEN _okr AND _kq IS NOT NULL AND "
                      f"_kq <> 0 AND abs(_kq) <= 500000 THEN "
                      f"cast(floor({g_expr} * 1000000e0 "
                      f"+ 5e-1) as long) END"))
    gd = "(CAST(_gq AS DOUBLE) / 1000000.0)"
    t2d = "(CAST(_t2r AS DOUBLE) / 1000000.0)"
    sig_expr = (f"({t2d} * {kd} / ({gd} * (1.0 - exp(-({kd}) "
                f"* ({math.log(2.0)!r})))))")
    reg = reg.withColumn(
        "_sq", F.expr(f"CASE WHEN _gq IS NOT NULL THEN "
                      f"cast(sign({sig_expr}) * floor(abs({sig_expr}) "
                      f"* 1000000e0 + 5e-1) as long) END"))
    sd = "(CAST(_sq AS DOUBLE) / 1000000.0)"
    xi_expr = f"({sd} * ({gd} - 1.0) / {kd})"
    reg = reg.withColumn(
        "_xq", F.expr(f"CASE WHEN _sq IS NOT NULL THEN 1000000 + "
                      f"cast(sign({xi_expr}) * floor(abs({xi_expr}) "
                      f"* 1000000e0 + 5e-1) as long) END"))
    pairs = F.array(*[
        F.struct(F.lit(int(t)).alias("period"),
                 F.lit(math.log(-math.log(1.0 - 1.0 / float(t))))
                 .alias("_lyt"))
        for t in periods])
    lvl_expr = f"({sd} / {kd} * (1.0 - exp({kd} * _p._lyt)))"
    grown = (reg.select(*keys, "_kq", "_sq", "_xq",
                        F.explode(pairs).alias("_p"))
             .withColumn(
                 "_grq", F.expr(
                     f"CASE WHEN _xq IS NOT NULL THEN _xq + "
                     f"cast(sign({lvl_expr}) * floor(abs({lvl_expr}) "
                     f"* 1000000e0 + 5e-1) as long) END"))
             .select(*keys, F.col("_p.period").alias("period"),
                     "_grq"))
    joined = site.select(*keys, "site", "n", "_l1") \
        .join(F.broadcast(grown), keys)
    mega_f = F.lit(float(MICRO))
    lvl = F.when(
        F.col("_grq").isNotNull(),
        _idiv_half_up(F.col("_l1").cast(dec)
                      * F.col("_grq").cast(dec), mega))
    return (joined.select(
        *keys, "site", F.col("n").cast("long").alias("n"), "period",
        (F.col("_grq").cast("double") / mega_f).alias("growth"),
        (lvl.cast("double") / mega_f).alias("level"))
        .orderBy(*keys, "site", "period"))


def idf_curves(df: DataFrame, value_col: str, order_col: str,
               block_col: str, group_keys, durations=(1, 3, 6),
               periods=(2, 10, 100)) -> DataFrame:
    """Intensity(depth)-Duration-Frequency curves per cell (Chow §14;
    the design-storm product every drainage/reservoir design reads
    off): for each duration d, the rolling d-step accumulation of the
    series, its block maxima (per `block_col` — typically the year:
    the AMS discipline), and a Gumbel L-moment fit per duration via
    [gumbel_return_levels] — the depth quantile x_{d,T} per return
    period.

    Determinism: values quantize ONCE to integer micros BEFORE the
    rolling sum — a windowed DOUBLE sum is association-order-dependent
    (DuckDB's segment-tree window accumulation vs Spark's running
    frame would diverge in the low bits), an integer sum cannot
    diverge; the de-quantized depth re-quantizes bit-identically
    inside the Gumbel fit.  Rolling frames shorter than d (series
    head) are EXCLUDED (complete-window convention, the [low_flow_mam]
    precedent).  Rows order by (`order_col`, value) within the cell —
    the secondary key pins tied timestamps.

    Scale posture: the |durations| rolling windows share ONE
    cell-keyed exchange; the union stacks d-bounded projections of
    the same scan; block maxima + the fit are the [gumbel_return_levels]
    plan keyed by (keys, duration).  Returns (keys…, duration, n,
    period, loc, scale, level), sorted."""

    keys = list(group_keys)
    if not keys:
        raise ValueError("idf_curves: need at least one group key")
    durs = sorted({int(d) for d in durations})
    if durs[0] < 1:
        raise ValueError("idf_curves: durations must be >= 1")
    qv = _micro(F.col(value_col))
    base = df.select(*keys, F.col(order_col).alias("_o"),
                     F.col(block_col).alias("_blk"),
                     qv.alias("_qv"))
    # ONE window pass for every duration (r16, guide §2.4): the
    # |durations| rolling frames share partitioning AND ordering, so
    # they compute as sibling window columns over a single sort — the
    # old per-duration union re-instantiated the scan + cell sort per
    # duration.  The complete-window filter (_c == d) moves into the
    # post-explode projection unchanged.
    wcols = []
    for i, d in enumerate(durs):
        w = (Window.partitionBy(*keys).orderBy("_o", "_qv")
             .rowsBetween(-(d - 1), 0))
        wcols.append(F.sum("_qv").over(w).alias(f"_rs{i}"))
        wcols.append(F.count(F.lit(1)).over(w).alias(f"_c{i}"))
    rolled = base.select(*keys, "_blk", *wcols)
    per_d = [F.struct(F.lit(d).alias("duration"),
                      F.col(f"_rs{i}").alias("_rs"),
                      F.col(f"_c{i}").alias("_c"))
             for i, d in enumerate(durs)]
    stacked = (rolled
               .select(*keys, "_blk", F.explode(F.array(*per_d))
                       .alias("_e"))
               .filter(F.col("_e._c") == F.col("_e.duration"))
               .select(*keys, F.col("_e.duration").alias("duration"),
                       "_blk",
                       (F.col("_e._rs").cast("double") / F.lit(1e6))
                       .alias("_depth")))
    ams = (stacked.groupBy(*keys, "duration", "_blk")
           .agg(F.max("_depth").alias("depth_max")))
    return gumbel_return_levels(ams, "depth_max",
                                [*keys, "duration"], periods)


def low_flow_frequency(df: DataFrame, value_col: str, order_col: str,
                       block_col: str, group_keys, window: int = 7,
                       periods=(2, 20)) -> DataFrame:
    """Low-flow frequency curve per group — the Q_{w,T} design
    statistic (Q7,10 in US practice: the 7-day minimum flow with a
    10-year recurrence, THE waste-load-allocation low-flow standard;
    Riggs 1972): the block series of MAM_w minima ([low_flow_mam] per
    `block_col` — the annual-series discipline), fitted by the SAME
    Gumbel L-moment machinery as the flood maxima via the minima ↔
    negated-maxima duality:

        Q_{w,T} = −GumbelLevel_T({−MAM_w per block})

    Exactness: MAM_w is already an exact integer-micro statistic; the
    negation is sign-exact under the micro quantization (sign-aware
    floor), so the fit re-quantizes bit-identically; everything else
    is [gumbel_return_levels]'s chain.  Blocks with no complete
    window drop out of the fit (NULL-MAM filter).  Returns (keys…,
    n, period, q_low), sorted — q_low may extrapolate below zero for
    short/flashy records; the caller clamps by policy, the fit
    reports the curve."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("low_flow_frequency: need at least one "
                         "group key")
    ams = low_flow_mam(df, value_col, order_col, [*keys, block_col],
                       window=window)
    neg = (ams.filter(F.col("mam").isNotNull())
           .select(*keys, (-F.col("mam")).alias("_neg")))
    fit = gumbel_return_levels(neg, "_neg", keys, periods=periods)
    return (fit.select(*keys, "n", "period",
                       (-F.col("level")).alias("q_low"))
            .orderBy(*keys, "period"))


def flow_duration_curve(df: DataFrame, value_col: str,
                        group_keys) -> DataFrame:
    """Flow-duration curve per group (Searcy 1959, USGS WSP 1542-A —
    the exceedance-probability view of a streamflow record that
    water-supply, hydropower and habitat assessments are read off;
    the operational complement of [doy_climatology]'s seasonal band
    and [low_flow_frequency]'s rare-event tail):

        rank flows DESCENDING,  p_i = i / (n+1)    (Weibull)

    so p is the fraction of time the flow is EQUALED OR EXCEEDED —
    Q95 (p = 0.95) is the low-flow yield, Q5 the high-flow regime.

    Exactness: the rank comes off ONE group-keyed window ordered by
    value DESCENDING (raw doubles — engine-portable comparisons, the
    [plotting_positions] precedent); p is the exact integer ratio
    i·1e6/(n+1) via `_idiv_half_up` — zero double seams.  Ties swap
    ranks between identical values, so the output multiset is
    permutation-invariant (the gate-hash contract).

    Scale posture: one group exchange, a window and a projection — no
    join, no global sort (the [spi_empirical] posture); at 100 TB the
    plan is scan → group exchange → done.  Returns (keys…, rank,
    value, n, exceed_p), sorted by (keys, rank)."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("flow_duration_curve: need at least one "
                         "group key")
    dec = "decimal(38,0)"
    mega = F.lit(MICRO).cast(dec)
    mega_f = F.lit(float(MICRO))
    w = Window.partitionBy(*keys).orderBy(F.desc("value"))
    wn = Window.partitionBy(*keys)
    ranked = (df.select(*keys, F.col(value_col).alias("value"))
              .withColumn("rank", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(wn)
                          .cast("long")))
    i = F.col("rank").cast(dec)
    n = F.col("n").cast(dec)
    return (ranked.select(
        *keys, "rank", "value", "n",
        (_idiv_half_up(i * mega, n + F.lit(1).cast(dec))
         .cast("double") / mega_f).alias("exceed_p"))
        .orderBy(*keys, "rank"))


def flow_percentile_class(current: DataFrame, historical: DataFrame,
                          value_col: str, group_keys,
                          hist_value_col: str | None = None
                          ) -> DataFrame:
    """Streamflow percentile classes (the USGS WaterWatch legend —
    the normal/drought condition map read daily against each gauge's
    historical flow-duration curve): place each `current` row's value
    on its group's HISTORICAL empirical CDF and assign the
    seven-class condition:

        record low    below every historical value
        much below    pct <  0.10
        below normal  0.10 ≤ pct < 0.25
        normal        0.25 ≤ pct ≤ 0.75
        above normal  0.75 < pct ≤ 0.90
        much above    pct >  0.90
        record high   above every historical value

    pct is the MID-RANK empirical percentile — the exact integer
    ratio (2·#{h < x} + #{h = x})·1e6 / (2n) in micro space
    (comparisons in quantized micros, so 'equal' is engine-portable)
    — the tie-symmetric convention: a value equal to the whole record
    reads 0.5, and record low/high are the exact count boundaries
    #{h < x} + #{h = x} = 0 / #{h < x} = n, not float edges.

    Scale posture: ONE keys-equi-join of the historical corpus
    against the (keys-cardinality-bounded) current relation, then ONE
    (keys, value) group exchange of conditional counts — the corpus
    moves once, no window over it, no theta join; broadcast `current`
    when it is a single day's gauge vector.  Groups with no
    historical record drop out (inner join) — a condition class
    against an empty record is undefined.  `current` is deduplicated
    on (keys, value) first: duplicate current rows are
    indistinguishable on the CDF, and leaving them in would inflate
    the join-side counts.  NULL values are dropped from BOTH sides
    before the join: a NULL current value has no place on a CDF
    (previously it classed as 'record low'), and a NULL historical
    value would count in n_hist but in neither _lt nor _eq —
    deflating pct and making 'record high' (#{h < x} = n)
    unreachable for the whole group.  Returns ONE row per distinct
    (keys…, value): (keys…, value, n_hist, pct, condition),
    sorted."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("flow_percentile_class: need at least one "
                         "group key")
    hv = hist_value_col or value_col
    dec = "decimal(38,0)"
    mega_f = F.lit(float(MICRO))
    cur = current.filter(F.col(value_col).isNotNull()) \
        .select(*keys, F.col(value_col).alias("value"),
                _micro(F.col(value_col)).alias("_qc")) \
        .distinct()
    hist = historical.filter(F.col(hv).isNotNull()) \
        .select(*keys, _micro(F.col(hv)).alias("_qh"))
    joined = cur.join(hist, on=keys, how="inner")
    counts = (joined.groupBy(*keys, "value", "_qc")
              .agg(F.count(F.lit(1)).cast("long").alias("n_hist"),
                   F.sum(F.when(F.col("_qh") < F.col("_qc"), 1)
                         .otherwise(0)).cast("long").alias("_lt"),
                   F.sum(F.when(F.col("_qh") == F.col("_qc"), 1)
                         .otherwise(0)).cast("long").alias("_eq")))
    pq = _idiv_half_up(
        (F.lit(2).cast(dec) * F.col("_lt").cast(dec)
         + F.col("_eq").cast(dec)) * F.lit(MICRO).cast(dec),
        F.lit(2).cast(dec) * F.col("n_hist").cast(dec))
    cond = (F.when((F.col("_lt") == 0) & (F.col("_eq") == 0),
                   F.lit("record low"))
            .when(F.col("_lt") == F.col("n_hist"),
                  F.lit("record high"))
            .when(F.col("_pq") < 100_000, F.lit("much below normal"))
            .when(F.col("_pq") < 250_000, F.lit("below normal"))
            .when(F.col("_pq") <= 750_000, F.lit("normal"))
            .when(F.col("_pq") <= 900_000, F.lit("above normal"))
            .otherwise(F.lit("much above normal")))
    return (counts.withColumn("_pq", pq)
            .select(*keys, "value", "n_hist",
                    (F.col("_pq").cast("double") / mega_f)
                    .alias("pct"),
                    cond.alias("condition"))
            .orderBy(*keys, "value"))


def drought_classes(df: DataFrame, spi_col: str,
                    group_keys=None) -> DataFrame:
    """US Drought Monitor intensity categories from an SPI-family
    index (the published USDM SPI mapping — the drought-condition
    complement of [flow_percentile_class]'s WaterWatch legend):

        D4 exceptional   spi ≤ −2.0
        D3 extreme       −2.0 < spi ≤ −1.6
        D2 severe        −1.6 < spi ≤ −1.3
        D1 moderate      −1.3 < spi ≤ −0.8
        D0 abnormally dry −0.8 < spi ≤ −0.5
        none             spi > −0.5

    The ladder compares in quantized micro space (spi values arrive
    micro-rounded from [spi_empirical], so the class cut at e.g.
    −1.6 is an exact integer comparison — engine-portable, no float
    edge); NULL spi (the Var=0 / empty-climatology convention
    upstream) classes as NULL.  A pure zero-shuffle projection —
    appends (d_class, in_drought) to the input columns.

    group_keys is accepted for signature symmetry with the rest of
    the family and ignored (the ladder is per-row)."""
    c = F.col(spi_col).cast("double")
    q = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                               + F.lit(0.5))).cast("long")
    cls = (F.when(c.isNull(), F.lit(None).cast("string"))
           .when(q <= -2_000_000, F.lit("D4"))
           .when(q <= -1_600_000, F.lit("D3"))
           .when(q <= -1_300_000, F.lit("D2"))
           .when(q <= -800_000, F.lit("D1"))
           .when(q <= -500_000, F.lit("D0"))
           .otherwise(F.lit("none")))
    return (df.withColumn("d_class", cls)
            .withColumn("in_drought",
                        F.when(c.isNull(),
                               F.lit(None).cast("boolean"))
                        .otherwise(cls != F.lit("none"))))
