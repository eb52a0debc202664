"""Survival analysis + experiment evaluation — Kaplan-Meier curves and
the two-proportion z-test, as pure Spark aggregates.

Where these sit: `behavior.py` answers "what paths do users take"
(funnels, retention grids, transitions); this module answers the two
time-to-event / experimentation questions next to them — "how long until
the event, with censoring handled honestly" (KM is the retention curve
done right: a user who hasn't churned YET is censored, not a survivor
forever) and "did the variant move the metric" (the z-test every A/B
readout starts from).

Scale posture:
- km_survival shuffles once on the (group, duration) key and once on the
  group key for the array fold; the per-group state is one array of
  DISTINCT event times (k entries), not one per subject — a 10^9-subject
  cohort with daily buckets folds 365-element arrays.  The risk-set
  arithmetic is an integer window cumsum within each group's k rows.
- two_proportion_ztest is two map-side-combined integer aggregates and a
  closed-form scalar expression — one shuffle on the variant key.

Engine-portable determinism (the value-oracle contract): risk sets and
event counts are exact integers; the per-step hazard factor
(n−d)/n is ONE double division (bit-identical on any engine), and the
running survival product is a SEQUENTIAL fold rounded to 6 decimals at
EVERY step — the EWMA/list_reduce discipline, which re-synchronizes any
fold-order drift and makes the curve value-hashable (q_survival).  The
z statistic is a single fixed-operand-order expression rounded once.

No reference analog; part of the beyond-reference inventory
(SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def km_survival(df: DataFrame, group_col: str = "cohort",
                duration_col: str = "duration",
                event_col: str = "event") -> DataFrame:
    """Kaplan-Meier survival estimate per group over right-censored
    durations: (group, t, n_risk, d_events, survival), one row per
    DISTINCT event time (censoring times shape the risk set but emit no
    step — the standard KM convention; subjects censored exactly at an
    event time count as still at risk there).

    survival(t_i) = Π_{j ≤ i} (n_j − d_j) / n_j, folded sequentially in
    time order with round-6 after every multiply (the cross-engine
    re-synchronization discipline — see module docstring).  NULL
    durations are refused (a silent drop would shrink risk sets);
    `event_col` must be 0/1.
    """
    if df.filter(F.col(duration_col).isNull()
                 | F.col(event_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"km_survival: NULL values in '{duration_col}'/'{event_col}'"
            " — drop or impute them first")
    g = F.col(group_col)
    # per (group, time): events d and total leavers (events + censored)
    at_t = (df.groupBy(g.alias("grp"),
                       F.col(duration_col).alias("t"))
            .agg(F.sum(F.col(event_col).cast("long")).alias("d"),
                 F.count(F.lit(1)).alias("leave")))
    totals = (df.groupBy(g.alias("grp"))
              .agg(F.count(F.lit(1)).alias("n_total")))
    w = (Window.partitionBy("grp").orderBy("t")
         .rowsBetween(Window.unboundedPreceding, -1))
    rows = (at_t.join(totals, "grp")
            .select("grp", "t", "d",
                    (F.col("n_total")
                     - F.coalesce(F.sum("leave").over(w), F.lit(0)))
                    .alias("n_risk"))
            .withColumn("f", (F.col("n_risk") - F.col("d"))
                        / F.col("n_risk")))
    # one array per group, time-ordered structs; the fold emits the
    # running product at every position, rounded each step
    folded = (rows.groupBy("grp")
              .agg(F.sort_array(F.collect_list(
                  F.struct("t", "n_risk", "d", "f"))).alias("steps"))
              .withColumn("surv", F.expr("""
                  aggregate(steps,
                      struct(cast(array() as array<double>) as arr,
                             cast(1.0 as double) as acc),
                      (a, x) -> struct(
                          concat(a.arr,
                                 array(round(a.acc * x.f, 6))),
                          round(a.acc * x.f, 6)),
                      a -> a.arr)""")))
    return (folded
            .select("grp", F.expr(
                "explode(arrays_zip(steps, surv))").alias("z"))
            .select(F.col("grp").alias(group_col),
                    F.col("z.steps.t").alias("t"),
                    F.col("z.steps.n_risk").alias("n_risk"),
                    F.col("z.steps.d").alias("d_events"),
                    F.col("z.surv").alias("survival"))
            .filter(F.col("d_events") > 0))


def two_proportion_ztest(df: DataFrame, variant_col: str = "variant",
                         success_col: str = "success") -> DataFrame:
    """Pooled two-proportion z-test between EXACTLY two variants:
    one row (variant_a, variant_b, n_a, n_b, x_a, x_b, p_a, p_b, lift,
    z, significant) with variant_a the lexicographically smaller label.

    Counts are exact integers; p's, lift and z are fixed-operand-order
    double expressions rounded to 6 decimals once.  `significant` is
    |z| >= 1.959964 (two-sided 5%), evaluated on the UNROUNDED z.
    Raises if the input does not have exactly two distinct variants or a
    degenerate pooled rate (0% or 100% — z undefined).
    """
    counts = (df.groupBy(F.col(variant_col).alias("v"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col(success_col).cast("long")).alias("x"))
              .orderBy("v").limit(10).collect())  # bounded by contract:
    # one row per variant, truncated at 10 — the not-exactly-2 error
    # fires either way
    if len(counts) != 2:
        raise ValueError(
            f"two_proportion_ztest: expected exactly 2 variants, got "
            f"{[r.v for r in counts]}")
    (va, na, xa), (vb, nb, xb) = ((r.v, r.n, r.x) for r in counts)
    pooled = (xa + xb) / (na + nb)
    if pooled in (0.0, 1.0):
        raise ValueError(
            "two_proportion_ztest: degenerate pooled rate "
            f"{pooled} — z is undefined")
    spark = df.sparkSession
    # closed form as ONE SQL expression over the four integers, so the
    # oracle states the identical operand order
    return spark.createDataFrame(
        [(va, vb, na, nb, xa, xb)],
        "variant_a string, variant_b string, n_a long, n_b long, "
        "x_a long, x_b long").selectExpr(
        "variant_a", "variant_b", "n_a", "n_b", "x_a", "x_b",
        "round(x_a / cast(n_a as double), 6) as p_a",
        "round(x_b / cast(n_b as double), 6) as p_b",
        "round(x_a / cast(n_a as double) "
        "      - x_b / cast(n_b as double), 6) as lift",
        "round((x_a / cast(n_a as double) - x_b / cast(n_b as double)) "
        "      / sqrt((x_a + x_b) / cast(n_a + n_b as double) "
        "             * (1.0 - (x_a + x_b) / cast(n_a + n_b as double)) "
        "             * (1.0 / n_a + 1.0 / n_b)), 6) as z",
        "abs((x_a / cast(n_a as double) - x_b / cast(n_b as double)) "
        "    / sqrt((x_a + x_b) / cast(n_a + n_b as double) "
        "           * (1.0 - (x_a + x_b) / cast(n_a + n_b as double)) "
        "           * (1.0 / n_a + 1.0 / n_b))) >= 1.959964 "
        "as significant")


# Poisson(1) CDF prefix, exact python doubles (mirrored verbatim in the
# oracle): P(X <= k) for k = 0..8; weights cap at 9 (P > 1 - 2e-6).
_POISSON1_CDF = (0.36787944117144233, 0.7357588823428847,
                 0.9196986029286058, 0.9810118431238463,
                 0.9963401531726563, 0.9994058151824183,
                 0.999916758850712, 0.9999897508033253,
                 0.999998874797402)


def bootstrap_ci(df: DataFrame, value_col: str, id_col: str,
                 group_cols=(), n_replicas: int = 32,
                 alpha: float = 0.05, salt: str = "",
                 portable_hash: bool = True) -> DataFrame:
    """Distributed Poisson-bootstrap confidence interval for the mean —
    the standard resampling trick at data sizes where true multinomial
    resampling is impossible (Chamandy et al., Google 2012): replica b
    reweights each row by an independent Poisson(1) count, and the
    spread of the B replica means estimates the sampling distribution.

    Everything is DETERMINISTIC: the Poisson draw is an inverse-CDF
    ladder over the md5-derived 52-bit uniform of (salt, replica,
    row id) — the bloom/KMV hash discipline — so the "random" CI is a
    pure function of the data and replays bit-identically on any
    engine: a FULL value oracle for a bootstrap.

    Plan: ONE scan fans each row out B ways (posexplode over the
    replica weight array — a constant-factor Generate, no join),
    partial-aggregates to (group × B) replica cells of exact integer
    micro sums, then a group-sized percentile over the B means.  At
    100 TB the only corpus-sized cost is the B-way map-side fan-out —
    the shuffle carries group×B cells, never rows.

    Returns per group: n BIGINT, mean (exact-integer division),
    ci_lo / ci_hi (exact percentile over the replica means, the
    quantile_cont bit-identity), both round(…, 6).
    """
    if n_replicas < 2:
        raise ValueError("bootstrap_ci: n_replicas must be >= 2")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"bootstrap_ci: alpha must be in (0,1), "
                         f"got {alpha}")
    keys = list(group_cols)
    y = F.round(F.col(value_col) * 1_000_000).cast("long")

    # explode the replica index FIRST, then hash ONCE per exploded row:
    # a 32-wide array of per-replica hash ladders is a ~300-node
    # expression that falls out of whole-stage codegen; one ladder over
    # a replica COLUMN keeps the expression small and JIT-friendly
    # (measured: the array form ran interpreted and 2-3x slower).
    # portable_hash=True: the md5 52-bit form every ANSI oracle can
    # replay (the gate path).  False: xxhash64 — JVM-native, no string
    # round-trip; same plan shape, not oracle-mirrorable — the
    # production default once the method is trusted.
    if portable_hash:
        h = F.md5(F.concat(F.lit(f"boot{salt}:"),
                           F.col("_b").cast("string"), F.lit(":"),
                           F.col(id_col).cast("string")))
        u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double")
             / F.lit(float(2 ** 52)))
    else:
        u = (F.xxhash64(F.concat(F.lit(f"boot{salt}:"),
                                 F.col("_b").cast("string")),
                        F.col(id_col))
             .bitwiseAND(F.lit((1 << 52) - 1)).cast("double")
             / F.lit(float(2 ** 52)))
    w = F.lit(0)
    for c in _POISSON1_CDF:
        w = w + F.when(u > F.lit(c), 1).otherwise(0)
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(*keys, y.alias("_y"), F.col(id_col),
                    F.explode(F.sequence(
                        F.lit(0), F.lit(n_replicas - 1))).alias("_b"))
            .select(*keys, "_y", "_b", w.cast("long").alias("_w")))
    cells = (rows.groupBy(*keys, "_b")
             .agg(F.sum(F.col("_w") * F.col("_y")).alias("_wy"),
                  F.sum("_w").alias("_wn"),
                  F.sum(F.when(F.col("_b") == 0, 1).otherwise(0)
                        .cast("long")).alias("_n0"),
                  F.sum(F.when(F.col("_b") == 0, F.col("_y"))
                        .otherwise(F.lit(0))).alias("_y0")))
    rep_mean = F.when(F.col("_wn") > 0,
                      F.col("_wy").cast("double") / F.col("_wn")
                      / 1_000_000)
    reps = cells.withColumn("_m", rep_mean)
    lo_p, hi_p = alpha / 2, 1 - alpha / 2
    return (reps.groupBy(*keys)
            .agg(F.sum("_n0").alias("n"),
                 F.round(F.sum("_y0").cast("double")
                         / F.sum("_n0") / 1_000_000, 6).alias("mean"),
                 F.round(F.percentile(F.col("_m"), F.lit(lo_p)), 6)
                 .alias("ci_lo"),
                 F.round(F.percentile(F.col("_m"), F.lit(hi_p)), 6)
                 .alias("ci_hi")))


def conformal_interval(calibration: DataFrame, df: DataFrame,
                       y_col: str, yhat_col: str,
                       alpha: float = 0.1) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; the Lei-Wasserman
    recipe): the (1-α) finite-sample-corrected quantile of ABSOLUTE
    RESIDUALS on a held-out calibration set becomes a symmetric ±q̂
    band around every new prediction — distribution-free marginal
    coverage ≥ 1-α, no model internals needed (works for any scorer
    already in the repo: trend_stats fits, quality_clf scores, Holt
    forecasts).

        q̂ = the ⌈(n+1)(1-α)⌉/n empirical quantile of |y - ŷ|_cal

    Exactness: residuals rank via the exact `percentile` at the
    corrected level (the quantile_cont bit-identity), computed from
    micro-unit integer residuals so the buffer sees order-free values;
    q̂ is ONE broadcast scalar; the apply side is a pure projection
    (zero shuffle — the point_in_polygon class of operator).

    Returns `df` + (conformal_lo, conformal_hi, conformal_q).  The
    calibration set must be disjoint from training (the caller's split
    contract — `assign_split` provides it).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"conformal_interval: alpha must be in (0,1), "
                         f"got {alpha}")
    resid = (F.abs(F.round((F.col(y_col) - F.col(yhat_col))
                           * 1_000_000).cast("long")).cast("double")
             / 1_000_000)
    # n must count exactly the rows the quantile sees: F.percentile
    # skips NULL residuals, so count(resid) — a count(*) would compute
    # the ⌈(n+1)(1-α)⌉/n level against phantom rows and silently break
    # the finite-sample coverage guarantee under NULLs (r9 ADVICE).
    n_cal = calibration.agg(
        F.count(resid).alias("n")).collect()[0]["n"]
    if n_cal < 1:
        raise ValueError("conformal_interval: empty calibration set "
                         "(no non-NULL residuals)")
    import math
    level = min(1.0, math.ceil((n_cal + 1) * (1.0 - alpha)) / n_cal)
    q = (calibration.agg(F.percentile(resid, F.lit(level)).alias("q"))
         .collect()[0]["q"])
    return (df.withColumn("conformal_q", F.lit(float(q)))
            .withColumn("conformal_lo", F.col(yhat_col) - F.lit(float(q)))
            .withColumn("conformal_hi", F.col(yhat_col) + F.lit(float(q))))


def cuped_adjust(df: DataFrame, metric_col: str, covariate_col: str,
                 keys=()) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the experimentation
    -platform standard: adjust the experiment metric by its
    pre-experiment covariate,

        y_adj = y − θ·(x − x̄),     θ = cov(x, y) / var(x)

    which preserves the mean and shrinks variance by the squared
    correlation.  Exact-integer assembly (the linalg discipline): with
    qx, qy micro-quantized and Sx/Sy/Sxx/Sxy the BIGINT sums,

        θ · 1e6   = half_up((Sxy·n − Sx·Sy) · 1e6, Sxx·n − Sx²)
        adj · 1e6 = qy − half_up(qθ · (qx·n − Sx), n · 1e6)

    — the 1-row moments relation broadcasts back onto the rows (the
    scalar-rejoin idiom), ONE corpus exchange total.  θ = 0 when the
    covariate is constant (no signal, metric unchanged).  Returns the
    input keys plus (metric, cuped_adjusted, theta); the mean-
    preservation and variance-reduction contracts are pytest
    assertions."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up
    dec = "decimal(38,0)"
    MICRO = 1_000_000

    def _q(col):
        c = col.cast("double")
        return (F.signum(c) * F.floor(F.abs(c) * MICRO + F.lit(0.5))) \
            .cast("long")

    keys = list(keys)
    base = df.select(*keys, _q(F.col(metric_col)).alias("_qy"),
                     _q(F.col(covariate_col)).alias("_qx"))
    mom = base.agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("_qx").cast(dec)).alias("_sx"),
        F.sum(F.col("_qy").cast(dec)).alias("_sy"),
        F.sum(F.col("_qx").cast(dec) * F.col("_qx").cast(dec))
        .alias("_sxx"),
        F.sum(F.col("_qx").cast(dec) * F.col("_qy").cast(dec))
        .alias("_sxy"))
    mega = F.lit(MICRO).cast(dec)
    varn = F.col("_sxx") * F.col("_n") - F.col("_sx") * F.col("_sx")
    covn = F.col("_sxy") * F.col("_n") - F.col("_sx") * F.col("_sy")
    qtheta = F.when(varn > 0, _idiv_half_up(covn * mega, varn)) \
        .otherwise(F.lit(0)).cast(dec)
    mom = mom.withColumn("_qt", qtheta)
    j = base.crossJoin(F.broadcast(mom))
    num = F.col("_qt") * (F.col("_qx").cast(dec) * F.col("_n")
                          - F.col("_sx"))
    adj_q = F.col("_qy").cast(dec) \
        - _idiv_half_up(num, F.col("_n") * mega).cast(dec)
    mega_f = F.lit(float(MICRO))
    return j.select(
        *keys,
        (F.col("_qy").cast("double") / mega_f).alias("metric"),
        (adj_q.cast("double") / mega_f).alias("cuped_adjusted"),
        (F.col("_qt").cast("double") / mega_f).alias("theta"))


def msprt_readout(df: DataFrame, time_col: str = "peek",
                  variant_col: str = "variant",
                  success_col: str = "success",
                  variant_a: str = "A", variant_b: str = "B",
                  tau2: float = 0.01, alpha: float = 0.05,
                  group_cols=()) -> DataFrame:
    """Always-valid sequential two-proportion readout — the mixture
    SPRT (Johari, Koomen, Pekelis & Walsh, "Peeking at A/B Tests",
    KDD 2017): a daily-cadence pipeline (the reference's operating
    mode) reads its experiment dashboard at EVERY publish, and under
    that continuous peeking the fixed-n z-test's 5% guarantee is void
    — with 20 peeks its realized false-positive rate is several times
    alpha (pinned by the pytest peeking contract).  The mSPRT's
    likelihood-ratio process is a nonnegative martingale under H0, so
    by Ville's inequality P(ever Lambda_t >= 1/alpha) <= alpha holds
    JOINTLY over all peeks.

    Per peek t (cumulative exact-integer counts n_a,x_a,n_b,x_b via
    one peek-ordered window):

        theta_t  = x_a/n_a - x_b/n_b
        V_t      = pbar(1-pbar) (1/n_a + 1/n_b),  pbar pooled
        logLam_t = 0.5 ln(V/(V+tau2)) + theta^2 tau2 / (2V(V+tau2))

    logLam quantizes ONCE to integer micro-nats (the WoE/PSI
    transcendental convention); the sequential decision and the
    always-valid p-value derive from the RUNNING MAX of that integer
    (rejection is sticky; p_t = min over s<=t of min(1, 1/Lambda_s) is
    non-increasing — both pytest contracts).  Peeks where either arm
    is empty or the pooled rate is degenerate carry NULL logLam and do
    not move the decision.  tau2 is the mixture (prior effect-size)
    variance; validity holds for ANY tau2 > 0, power is tuned by it.

    Scale: ONE corpus-sized exchange (the (keys, peek, variant)
    groupBy partial-aggregates map-side); the cumulative window and
    running max ride peek-count-sized relations — thousands of
    concurrent experiments are just more `group_cols` groups.  Returns
    (group_cols..., peek, n_a, x_a, n_b, x_b, log_lambda_micro,
    always_valid_p, reject) sorted by (keys, peek)."""
    counts = msprt_counts(df, time_col, variant_col, success_col,
                          variant_a, variant_b, group_cols)
    return msprt_from_counts(counts, variant_a, variant_b,
                             tau2=tau2, alpha=alpha,
                             group_cols=group_cols)


def msprt_counts(df: DataFrame, time_col: str = "peek",
                 variant_col: str = "variant",
                 success_col: str = "success",
                 variant_a: str = "A", variant_b: str = "B",
                 group_cols=()) -> DataFrame:
    """The mSPRT's sufficient state: exact (keys, peek, variant)
    trial/success counts — a MERGEABLE integer-sum relation (the same
    property that makes it the streaming half of `msprt_count_stream`:
    complete-mode state is peeks x 2 x experiments cells however long
    the stream runs, never corpus-sized)."""
    keys = list(group_cols)
    lab = F.col(variant_col).cast("string")
    succ = F.col(success_col).cast("long")
    return (df.filter(lab.isin([variant_a, variant_b]))
            .groupBy(*keys, F.col(time_col).alias("peek"),
                     lab.alias("_v"))
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.sum(succ).alias("_x")))


def msprt_from_counts(counts: DataFrame, variant_a: str = "A",
                      variant_b: str = "B", tau2: float = 0.01,
                      alpha: float = 0.05, group_cols=()) -> DataFrame:
    """Finisher shared verbatim by the batch readout and the streaming
    twin: pivot the count state to per-peek arm cells, cumulate through
    the peek-ordered window, quantize logLambda once to micro-nats,
    derive the sticky decision and the always-valid p from the running
    max.  See `msprt_readout` for the math and the mirroring rules."""
    import math

    if tau2 <= 0:
        raise ValueError(f"msprt_readout: tau2 must be > 0, got {tau2}")
    if not 0 < alpha < 1:
        raise ValueError(
            f"msprt_readout: alpha must be in (0,1), got {alpha}")
    keys = list(group_cols)
    MICRO = 1_000_000

    def _arm(src, v):
        return F.sum(F.when(F.col("_v") == v, F.col(src))
                     .otherwise(F.lit(0).cast("long")))

    per_peek = (counts.groupBy(*keys, "peek")
                .agg(_arm("_n", variant_a).alias("_na_d"),
                     _arm("_x", variant_a).alias("_xa_d"),
                     _arm("_n", variant_b).alias("_nb_d"),
                     _arm("_x", variant_b).alias("_xb_d")))
    wcum = Window.partitionBy(*keys).orderBy("peek") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_peek.select(
        *keys, "peek",
        F.sum("_na_d").over(wcum).alias("n_a"),
        F.sum("_xa_d").over(wcum).alias("x_a"),
        F.sum("_nb_d").over(wcum).alias("n_b"),
        F.sum("_xb_d").over(wcum).alias("x_b"))
    # the delicate double tree as ONE SQL expression (fixed operand
    # order, 1e6/1e0 double literals) so the oracle states the
    # identical text; tau2 embeds as CAST(repr AS DOUBLE) — shortest-
    # round-trip decimal -> double parses to the same double in both
    # engines
    t2 = f"CAST({float(tau2)!r} AS DOUBLE)"
    pbar = "((x_a + x_b) / cast(n_a + n_b as double))"
    vv = f"({pbar} * (1e0 - {pbar}) * (1e0 / n_a + 1e0 / n_b))"
    th = f"(x_a / cast(n_a as double) - x_b / cast(n_b as double))"
    loglam = (f"(5e-1 * ln({vv} / ({vv} + {t2})) "
              f"+ {th} * {th} * {t2} / (2e0 * {vv} * ({vv} + {t2})))")
    guard = ("n_a > 0 AND n_b > 0 AND (x_a + x_b) > 0 "
             "AND (x_a + x_b) < (n_a + n_b)")
    llm = (f"CASE WHEN {guard} THEN "
           f"cast(round({loglam} * 1000000) as bigint) END")
    thr = int(round(math.log(1.0 / alpha) * MICRO))
    wrun = Window.partitionBy(*keys).orderBy("peek") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (cum.withColumn("log_lambda_micro", F.expr(llm))
           .withColumn("_run", F.max("log_lambda_micro").over(wrun))
           .withColumn("reject",
                       F.coalesce(F.col("_run") >= F.lit(thr),
                                  F.lit(False)))
           .withColumn("always_valid_p", F.expr(
               "round(exp(-(greatest(coalesce(_run, 0), 0) "
               "/ cast(1000000 as double))), 6)"))
           .drop("_run"))
    return out.orderBy(*keys, "peek")


def ratio_metric_ci(df: DataFrame, num_col: str, den_col: str,
                    group_cols=(), z: float = 1.959964) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric R = Σx/Σy —
    the experimentation-platform standard for per-user ratio metrics
    (revenue per session, clicks per impression; Deng, Knoblich & Lu
    2018): user-level CLT does not apply to a ratio of sums directly,
    so the variance comes from the first-order Taylor expansion

        Var(R̂) = (s_x² − 2R·s_xy + R²·s_y²) / (n·ȳ²)

    Assembly discipline: x, y quantize ONCE to micro-units; the five
    moments (Sx, Sy, Sxx, Syy, Sxy) are exact BIGINT/DECIMAL sums; the
    centered quadratics A = n·Sxx−Sx², B = n·Sxy−Sx·Sy, C = n·Syy−Sy²
    and Sy² stay EXACT in decimal(38,0) (the covariance-cancellation
    lesson: never subtract derived doubles).  Only then one mirrored
    double seam evaluates

        se = sqrt(max(A·Sy² − 2·Sx·Sy·B + Sx²·C, 0)) / (sqrt(n)·Sy²)

    (identical operand order both engines; exact-integer→double casts
    are correctly rounded in both), quantized ONCE to micro; the ratio
    itself is the exact integer ratio half_up(Sx·1e6, Sy), and the
    CI margin is the exact integer product half_up(z_micro·se_micro,
    1e6).  One corpus-sized moments exchange; everything after is
    group-sized.  Sy = 0 → all-NULL row (ratio undefined); n < 2 → NULL
    se/CI.  Returns (keys..., n, ratio, se, lo, hi) sorted by keys."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_cols)
    MICRO = 1_000_000
    dec = "decimal(38,0)"

    def _q(col):
        c = F.col(col).cast("double")
        return (F.signum(c) * F.floor(F.abs(c) * MICRO + F.lit(0.5))) \
            .cast(dec)

    m = (df.select(*keys, _q(num_col).alias("_qx"),
                   _q(den_col).alias("_qy"))
         .groupBy(*keys)
         .agg(F.count(F.lit(1)).cast(dec).alias("_n"),
              F.sum("_qx").alias("_sx"), F.sum("_qy").alias("_sy"),
              F.sum(F.col("_qx") * F.col("_qx")).alias("_sxx"),
              F.sum(F.col("_qy") * F.col("_qy")).alias("_syy"),
              F.sum(F.col("_qx") * F.col("_qy")).alias("_sxy")))
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    m = (m.withColumn("_a", n * F.col("_sxx") - sx * sx)
         .withColumn("_b", n * F.col("_sxy") - sx * sy)
         .withColumn("_c", n * F.col("_syy") - sy * sy)
         .withColumn("_sy2", sy * sy))
    # the ONE double seam — textual SQL so the oracle restates it
    # verbatim (cast exact decimals to double, fixed operand order)
    se_micro = (
        "CASE WHEN _n >= 2 AND _sy <> 0 THEN "
        "cast(floor(sqrt(greatest("
        "cast(_a as double) * cast(_sy2 as double) "
        "- 2e0 * cast(_sx as double) * cast(_sy as double) "
        "  * cast(_b as double) "
        "+ cast(_sx as double) * cast(_sx as double) "
        "  * cast(_c as double), 0e0)) "
        "/ (sqrt(cast(_n as double)) * cast(_sy2 as double)) "
        "* 1000000e0 + 5e-1) as decimal(38,0)) END")
    zq = F.lit(int(round(float(z) * MICRO))).cast(dec)
    mega = F.lit(MICRO).cast(dec)
    mega_f = F.lit(float(MICRO))
    out = (m.withColumn("_seq", F.expr(se_micro))
           .withColumn("_rq", F.when(sy != 0,
                                     _idiv_half_up(sx * mega, sy)))
           .withColumn("_mg", _idiv_half_up(zq * F.col("_seq"), mega)))
    ratio = F.col("_rq").cast("double") / mega_f
    se = F.col("_seq").cast("double") / mega_f
    lo = (F.col("_rq") - F.col("_mg")).cast("double") / mega_f
    hi = (F.col("_rq") + F.col("_mg")).cast("double") / mega_f
    return (out.select(*keys, F.col("_n").cast("long").alias("n"),
                       ratio.alias("ratio"), se.alias("se"),
                       lo.alias("lo"), hi.alias("hi"))
            .orderBy(*keys))


def wilson_interval(df: DataFrame, success_col: str = "success",
                    group_cols=(), z: float = 1.959964) -> DataFrame:
    """Wilson score interval for a binomial proportion per group — the
    CI that behaves at small n and extreme p̂ (never exits [0,1], no
    0-width collapse at x ∈ {0, n}), the fixed-n companion to the
    always-valid `msprt_readout`:

        center ± margin = (x + z²/2)/(n + z²)
                          ± z·sqrt(x(n−x)/n + z²/4)/(n + z²)

    Counts are exact integers; the whole interval is ONE
    fixed-operand-order double seam over (x, n) and the z constants
    (stated textually, restated verbatim in the oracle), with lo and
    hi each quantized ONCE to micro; p̂ itself is the exact integer
    ratio.  One group-keyed exchange.  Returns (keys..., n, x, p, lo,
    hi) sorted by keys; n = 0 → NULL interval."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_cols)
    MICRO = 1_000_000
    dec = "decimal(38,0)"
    g = (df.groupBy(*keys)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col(success_col).cast("long")).alias("x")))
    z_r = repr(float(z))
    z2_r = repr(float(z) * float(z))
    seam = (
        "CASE WHEN n > 0 THEN cast(floor(("
        f"(x + CAST({z2_r} AS DOUBLE) / 2e0) / (n + CAST({z2_r} AS DOUBLE)) "
        f"{{sign}} CAST({z_r} AS DOUBLE) * sqrt("
        "x * (n - x) / cast(n as double) "
        f"+ CAST({z2_r} AS DOUBLE) / 4e0) / (n + CAST({z2_r} AS DOUBLE))"
        ") * 1000000e0 + 5e-1) as long) END")
    out = (g.withColumn("_lo", F.expr(seam.format(sign="-")))
           .withColumn("_hi", F.expr(seam.format(sign="+")))
           .withColumn("_pq", F.when(
               F.col("n") > 0,
               _idiv_half_up(F.col("x").cast(dec)
                             * F.lit(MICRO).cast(dec),
                             F.col("n").cast(dec)))))
    mega_f = F.lit(float(MICRO))
    return (out.select(*keys, "n", "x",
                       (F.col("_pq").cast("double") / mega_f).alias("p"),
                       (F.col("_lo").cast("double") / mega_f).alias("lo"),
                       (F.col("_hi").cast("double") / mega_f).alias("hi"))
            .orderBy(*keys))


def srm_check(df: DataFrame, variant_col: str = "variant",
              group_cols=(), variant_a: str = "A",
              variant_b: str = "B", expected_a: float = 0.5,
              z_crit: float = 3.0) -> DataFrame:
    """Sample-ratio-mismatch check per experiment — the first gate
    every A/B readout must pass (a broken randomizer invalidates
    [two_proportion_ztest]/[msprt_readout] before any metric is read):

        z = (n_a − N·ρ) / sqrt(N·ρ(1−ρ)),   N = n_a + n_b

    against the EXPECTED allocation ρ.  Counts are exact integers; z
    is ONE fixed-operand-order double seam over (n_a, N) and the ρ
    literals (repr'd verbatim into the oracle), quantized once to
    micro.  The flag trips at |z| ≥ `z_crit` (3.0 — SRM practice
    alerts at p ≈ 0.003, not 0.05: a mismatched ratio is a bug, not a
    hypothesis).  One group-keyed exchange.  Returns (keys…, n_a,
    n_b, z, srm), sorted; experiments whose rows are all outside
    {variant_a, variant_b} surface with n_a = n_b = 0 and NULL z —
    the aggregate runs over the UNFILTERED frame (counting only A/B
    per group), so no experiment silently disappears from the
    report."""
    keys = list(group_cols)
    rho = float(expected_a)
    if not (0.0 < rho < 1.0):
        raise ValueError(f"srm_check: expected_a must be in (0, 1), "
                         f"got {rho}")
    g = (df.groupBy(*keys)
         .agg(F.sum(F.when(F.col(variant_col) == variant_a, 1)
                    .otherwise(0)).cast("long").alias("n_a"),
              F.sum(F.when(F.col(variant_col) == variant_b, 1)
                    .otherwise(0)).cast("long").alias("n_b")))
    rho_r = repr(rho)
    rhoq_r = repr(rho * (1.0 - rho))
    seam = (
        "CASE WHEN n_a + n_b > 0 THEN "
        "cast(sign((n_a - (n_a + n_b) * CAST({rho} AS DOUBLE)) "
        "/ sqrt((n_a + n_b) * CAST({rhoq} AS DOUBLE))) "
        "* floor(abs((n_a - (n_a + n_b) * CAST({rho} AS DOUBLE)) "
        "/ sqrt((n_a + n_b) * CAST({rhoq} AS DOUBLE))) "
        "* 1000000e0 + 5e-1) as long) END"
    ).format(rho=rho_r, rhoq=rhoq_r)
    zq = F.expr(seam)
    crit = int(round(float(z_crit) * 1_000_000))
    out = g.withColumn("_zq", zq)
    return (out.select(*keys, "n_a", "n_b",
                       (F.col("_zq").cast("double") / F.lit(1e6))
                       .alias("z"),
                       F.when(F.col("_zq").isNotNull(),
                              F.abs(F.col("_zq")) >= F.lit(crit))
                       .alias("srm"))
            .orderBy(*keys) if keys else
            out.select("n_a", "n_b",
                       (F.col("_zq").cast("double") / F.lit(1e6))
                       .alias("z"),
                       F.when(F.col("_zq").isNotNull(),
                              F.abs(F.col("_zq")) >= F.lit(crit))
                       .alias("srm")))


def winsorized_mean(df: DataFrame, value_col: str, group_cols=(),
                    lower: float = 0.0,
                    upper: float = 0.99) -> DataFrame:
    """Winsorized mean per group — the heavy-tail-robust metric
    readout online experimentation standardizes on for revenue-like
    values (cap, don't drop: trimming discards signal, capping bounds
    variance):

        v' = clamp(v, P_lower, P_upper),   wmean = Σv'/n

    Caps are EXACT interpolated percentiles (Spark `percentile` ==
    quantile_cont bit-for-bit — the equidepth precedent), the clamp is
    a pure comparison on engine-identical doubles, and the mean
    quantizes each clamped value ONCE to integer micros before an
    exact integer ratio.  Two group-keyed passes (cap aggregate +
    co-partitioned join back), the [with_robust_outliers] plan shape.
    NULL values are excluded up front so n, the caps, and the sum all
    cover the same rows — counting NULL rows in n while the sum skips
    them would deflate wmean toward zero.  Returns (keys…, n, lo_cap,
    hi_cap, wmean), sorted."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_cols)
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("winsorized_mean: need 0 <= lower < upper "
                         f"<= 1, got ({lower}, {upper})")
    df = df.filter(F.col(value_col).isNotNull())
    dec = "decimal(38,0)"
    if keys:
        # exact caps from one sorted array per group
        # (stats.rank_quantiles, equal to F.percentile)
        from flood_data_spark.operators.stats import rank_quantiles
        caps = rank_quantiles(df, keys, value_col,
                              (float(lower), float(upper)),
                              ("lo_cap", "hi_cap")).drop("n_rows")
    else:
        # keyless: ONE global group — the percentile aggregate keeps
        # its map-side partial parallelism and duplicate compression
        caps = (df.groupBy()
                .agg(F.percentile(F.col(value_col), F.lit(float(lower)))
                     .alias("lo_cap"),
                     F.percentile(F.col(value_col), F.lit(float(upper)))
                     .alias("hi_cap")))
    # caps is group-bounded by contract — broadcast so the corpus side
    # never shuffles into this join (guide §3.1)
    j = (df.join(F.broadcast(caps), keys) if keys
         else df.crossJoin(F.broadcast(caps)))
    v = F.least(F.greatest(F.col(value_col).cast("double"),
                           F.col("lo_cap")), F.col("hi_cap"))
    qv = (F.signum(v) * F.floor(F.abs(v) * F.lit(1_000_000)
                                + F.lit(0.5))).cast(dec)
    agg = (j.groupBy(*keys)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(qv).alias("_s"),
                F.max("lo_cap").alias("lo_cap"),
                F.max("hi_cap").alias("hi_cap")))
    wmean = F.when(
        F.col("n") > 0,
        _idiv_half_up(F.col("_s"),
                      F.greatest(F.col("n").cast(dec),
                                 F.lit(1).cast(dec)))
        .cast("double") / F.lit(1e6))
    sel = agg.select(*keys, "n", "lo_cap", "hi_cap",
                     wmean.alias("wmean"))
    return sel.orderBy(*keys) if keys else sel
