"""Distributed data-profiling statistics.

Equi-depth (equal-population) histograms without a global sort: the naive
formulation — ``ntile(B) OVER (ORDER BY value)`` — funnels the entire
relation through ONE window task (Spark logs `WindowExec: No Partition
Defined`), which is a scale-killer at any real volume.  The plan here is
the standard two-pass boundary design a warehouse profiler uses:

1. ONE aggregate computes all B-1 exact quantile boundaries from a single
   percentile buffer (`percentile(value, array(1/B .. (B-1)/B))`) — a
   map-side-combining aggregation whose shuffle carries one buffer per
   partition, never the data.
2. The B-1 boundary doubles (bounded, driver-side by contract) become a
   literal comparison ladder: ``bucket = 1 + Σ (value > b_i)`` — a pure
   whole-stage-codegen projection on a second scan, no join, no sort, no
   window.

Total cost: two scans + one scalar-sized shuffle, versus one scan + one
ALL-DATA-ON-ONE-TASK sort.  At 100 TB the second scan is embarrassingly
parallel while the ntile form simply does not finish.

Tie semantics differ from ntile deliberately: equal values always land in
the same bucket (boundary comparison is a function of the VALUE), so
bucket populations are equal only up to tie mass.  That is the right
contract for a profile/salting consumer — a value-dependent bucket id is
reproducible under repartitioning, while ntile's row-order split of ties
is not without a total tiebreak order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_values(value_col) -> Column:
    """Aggregate: a group's non-null values as one ascending array, NaN
    last — the buffer [sorted_quantile] reads exact quantiles from.

    Grouped exact quantiles take this shape rather than
    ``F.percentile``: percentile's buffer is a hash map of every distinct
    value and its count, which at ~51 distinct values per group (the
    ensemble grain) compresses nothing and shuffles heavier than the raw
    values.  Keyless global percentiles keep ``F.percentile``; there the
    map's duplicate compression pays."""
    return F.array_sort(F.collect_list(value_col))


def sorted_quantile(arr_col: str, q: float) -> Column:
    """The exact q-quantile of the [sorted_values] array column `arr_col`,
    interpolated by Percentile.getPercentile's rule, so it equals
    ``F.percentile``: pos = q·(n−1); ``v_lo`` when pos is whole or both
    neighbours are equal, else (hi − pos)·v_lo + (pos − lo)·v_hi on
    doubles.  An empty array (an all-NULL group) reads NULL: every index
    is out of bounds.

    Signed zeros agree by value only: ``F.percentile``'s sign follows
    which zero its hash map saw first, the array's follows the stable
    sort's input order (``[0.0, -0.0, 0.0, -0.0]`` reads Q1 −0.0 there,
    0.0 here)."""
    arr = F.col(arr_col)
    pos = F.lit(float(q)) * (F.size(arr) - 1).cast("double")
    lo, hi = F.floor(pos), F.ceil(pos)
    v_lo = F.get(arr, lo.cast("int")).cast("double")
    v_hi = F.get(arr, hi.cast("int")).cast("double")
    return F.when((lo == hi) | (v_lo == v_hi), v_lo).otherwise(
        (hi.cast("double") - pos) * v_lo + (pos - lo.cast("double")) * v_hi)


def rank_quantiles(df: DataFrame, group_keys, value_col: str,
                   probs, out_names) -> DataFrame:
    """Exact interpolated quantiles per group, equal to ``F.percentile`` /
    ``quantile_cont``, from one [sorted_values] aggregate read by
    [sorted_quantile]: one hash exchange carrying each group's values.

    NULLs are skipped; an all-NULL group still emits its row with NULL
    quantiles.  Returns one row per group:
    (keys…, n_rows BIGINT — count(*) incl. NULL values —, *out_names).

    Parallelism is group-count-bounded: each group's array is built and
    sorted in one task."""
    keys = list(group_keys)
    probs = list(probs)
    names = list(out_names)
    if len(probs) != len(names):
        raise ValueError("rank_quantiles: probs and out_names must "
                         "have equal length")
    # sum(1) is count(*) that stays nullable, as callers' schemas read
    g = df.groupBy(*keys).agg(F.sum(F.lit(1)).alias("n_rows"),
                              sorted_values(value_col).alias("_s"))
    return g.select(*keys, "n_rows",
                    *[sorted_quantile("_s", q).alias(name)
                      for q, name in zip(probs, names)])


def equidepth_bounds(df: DataFrame, value_col: str,
                     n_buckets: int = 10) -> list[float]:
    """The B-1 exact quantile boundaries of `value_col`, one aggregate
    (single percentile buffer for all quantiles — the q_threshold_summary
    one-buffer trick).  Driver-side result is bounded at B-1 doubles.

    Exact `percentile` (linear interpolation at rank p·(n-1)) matches
    DuckDB's `quantile_cont` bit-for-bit on the same data — measured, not
    assumed — which is what lets the value oracle compare raw boundary
    doubles without rounding.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    ps = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(F.percentile(
        F.col(value_col), F.array(*[F.lit(p) for p in ps])).alias("b")) \
        .collect()[0]
    if row["b"] is None:          # empty input: no boundaries
        return []
    return [float(b) for b in row["b"]]


def bucket_expr(value_col: str, bounds: list[float]) -> Column:
    """1-based bucket id from a literal boundary ladder:
    ``1 + Σ (value > b_i)`` — pure codegen, no shuffle.

    NULL contract: a NULL value yields a NULL bucket, NOT bucket 1 —
    without the explicit guard, ``NULL > b`` is NULL and every
    ``otherwise(0)`` fires, silently landing NULLs in the lowest bucket
    (the r9 split_candidates Gini-corruption bug).  Callers that must
    exclude NULLs entirely (PSI counts, split cells) filter the NULL
    buckets; callers that keep them (`with_equidepth_bucket`) surface
    them honestly as NULL."""
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + F.when(F.col(value_col) > F.lit(b),
                                 F.lit(1)).otherwise(F.lit(0))
    return F.when(F.col(value_col).isNotNull(), bucket).cast("int")


def with_equidepth_bucket(df: DataFrame, value_col: str,
                          n_buckets: int = 10,
                          out_col: str = "bucket") -> DataFrame:
    """Assign each row its equi-depth bucket (two-pass boundary plan —
    see module docstring)."""
    bounds = equidepth_bounds(df, value_col, n_buckets)
    return df.withColumn(out_col, bucket_expr(value_col, bounds))


def with_robust_outliers(df: DataFrame, value_col: str,
                         partition_cols, k: float = 3.5,
                         prefix: str = "ro_") -> DataFrame:
    """Robust per-group outlier flags: median/MAD (median absolute
    deviation), the modified z-score |x - med| / (1.4826·MAD), and the
    Iglewicz-Hoaglin flag at threshold `k` (3.5 is their published
    default).  The data-cleaning primitive a sensor/forecast QA pass
    runs — median/MAD, unlike mean/stddev, don't let the outliers being
    hunted inflate the yardstick.

    Plan: two group-keyed aggregate passes (median, then MAD over the
    residuals), each a single percentile buffer; the group-stats
    relations join back co-partitioned on the group key.  Groups with
    MAD = 0 (constant groups) get robust_z NULL and flag false — nothing
    deviates from a constant.

    Exact `percentile` matches DuckDB's `quantile_cont` bit-for-bit
    (the equidepth_bounds evidence), so the whole battery value-oracles.
    """
    parts = list(partition_cols)
    if not parts:
        raise ValueError("partition_cols must be non-empty")
    med = (df.groupBy(*parts)
           .agg(F.percentile(F.col(value_col), F.lit(0.5))
                .alias(prefix + "med")))
    j = df.join(med, parts)
    dev = F.abs(F.col(value_col) - F.col(prefix + "med"))
    mad = (j.groupBy(*parts)
           .agg(F.percentile(dev, F.lit(0.5)).alias(prefix + "mad")))
    out = j.join(mad, parts)
    scale = F.lit(1.4826) * F.col(prefix + "mad")
    return (out
            .withColumn(prefix + "z",
                        F.when(F.col(prefix + "mad") > 0,
                               F.round(dev / scale, 6)))
            .withColumn(prefix + "outlier",
                        (F.col(prefix + "mad") > 0)
                        & (dev > F.lit(k) * scale)))


def trend_stats(df: DataFrame, y_col: str, x_col: str,
                partition_cols) -> DataFrame:
    """Per-group least-squares trend: slope, intercept, r², n — the
    'is discharge rising at this cell' / 'is quality drifting in this
    source' primitive, as ONE aggregate pass over the built-in `regr_*`
    family (JVM-side declarative aggregates; map-side partial merge, the
    shuffle carries one moment buffer per group per partition).

    Rows where either column is NULL are excluded pairwise (the SQL
    standard regr_* contract, identical in DuckDB for the oracle).
    Groups with < 2 distinct x values yield NULL slope/intercept/r².
    """
    parts = list(partition_cols)
    if not parts:
        raise ValueError("partition_cols must be non-empty")
    y, x = F.col(y_col), F.col(x_col)
    return (df.groupBy(*parts)
            .agg(F.regr_count(y, x).alias("n_pairs"),
                 F.round(F.regr_slope(y, x), 6).alias("slope"),
                 F.round(F.regr_intercept(y, x), 6).alias("intercept"),
                 F.round(F.regr_r2(y, x), 6).alias("r2")))


def profile_table(df: DataFrame, cols=None,
                  accuracy_mode: str = "exact") -> DataFrame:
    """Deequ-style numeric column profile in ONE aggregation job: per
    column (n_rows, n_null, n_distinct, min_value, max_value) — the
    data-quality summary a pipeline asserts invariants against before a
    run (row counts stable, no new NULLs, key cardinality sane).

    accuracy_mode (the ensemble_threshold_summary switch):
    - 'exact': count_distinct per column.  Catalyst plans multi-distinct
      aggregates with one Expand pass (k× row expansion, single job) —
      the oracle-parity mode.
    - 'approx': approx_count_distinct (HLL++, one buffer per column, no
      Expand) — the 100 TB profile: one true pass over the scan.

    Columns default to every numeric column; non-numeric columns raise
    (min/max string formatting differs across engines — profile those
    through their lengths or digests instead).  Output is long-form
    (`column` string, stats), min/max as double.
    """
    if accuracy_mode not in ("exact", "approx"):
        raise ValueError("accuracy_mode must be 'exact' or 'approx'")
    numeric = {f.name for f in df.schema.fields
               if f.dataType.typeName() in
               ("byte", "short", "integer", "long", "float", "double",
                "decimal")}
    cols = list(cols) if cols is not None else sorted(numeric)
    bad = [c for c in cols if c not in numeric]
    if bad:
        raise ValueError(f"profile_table: non-numeric columns {bad}")
    if not cols:
        raise ValueError("profile_table: no numeric columns to profile")
    nd = (F.count_distinct if accuracy_mode == "exact"
          else F.approx_count_distinct)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs += [F.count(F.col(c)).alias(f"_nn{i}"),
                 nd(F.col(c)).alias(f"_nd{i}"),
                 F.min(F.col(c)).cast("double").alias(f"_min{i}"),
                 F.max(F.col(c)).cast("double").alias(f"_max{i}")]
    row = df.agg(*aggs)
    items = ", ".join(
        f"'{c}', _nn{i}, _nd{i}, _min{i}, _max{i}"
        for i, c in enumerate(cols))
    return (row.selectExpr(
        "_n AS n_rows",
        f"stack({len(cols)}, {items}) AS "
        "(column, _nonnull, n_distinct, min_value, max_value)")
        .select(F.col("column"), F.col("n_rows"),
                (F.col("n_rows") - F.col("_nonnull")).alias("n_null"),
                "n_distinct", "min_value", "max_value"))


def equidepth_histogram(df: DataFrame, value_col: str,
                        n_buckets: int = 10,
                        bucket_col: str = "bucket") -> DataFrame:
    """Per-bucket (count, min, max, avg) profile over equi-depth buckets:
    the decile table a data profile or a salting plan reads.

    Empty buckets (possible when tie mass swallows a boundary) simply
    don't appear — the output is the observed bucket relation, B rows at
    most, B-1 boundaries exact.
    """
    bucketed = with_equidepth_bucket(df, value_col, n_buckets,
                                     out_col=bucket_col)
    return (bucketed.groupBy(bucket_col)
            .agg(F.count("*").alias("n"),
                 F.round(F.min(value_col), 2).alias("lo"),
                 F.round(F.max(value_col), 2).alias("hi"),
                 F.round(F.avg(value_col), 6).alias("avg_value")))


def acf(df: DataFrame, value_col: str, order_col: str,
        partition_cols, max_lag: int = 7) -> DataFrame:
    """Sample autocorrelation per series at lags 1..max_lag — the Pearson
    correlation between x_t and x_{t+k} over each key's overlapping pairs
    (the Box-Jenkins model-identification statistic, and the standard
    "is this metric seasonal / mean-reverting" profile read).

    Plan (one key exchange, lag-bounded fan-out):
    - ONE window pass per key materializes all max_lag leads as an array
      (the sort is the only shuffle — the canonical per-key series
      exchange shared with `timeseries.with_ewma`);
    - posexplode fans each row out max_lag ways (a constant, not a join),
      NULL leads past the series edge drop;
    - groupBy(key, lag) reduces to a key×lag-sized relation of exact
      integer moment sums with map-side partial aggregation.

    Exactness contract (the value-oracle discipline): values are rounded
    ONCE to integer micro-units; all five moment sums are exact BIGINTs
    (order-free), and the correlation is computed from them in DOUBLE with
    a fixed expression tree — bit-identical on any engine.  The BIGINT
    product bound is the caller's contract: n_k · (max|x|·1e6)² must fit
    int64 (any per-key series of values |x| ≤ ~30 up to 10k points, or
    pre-scale).  r is NULL for a constant series (zero variance).
    """
    if max_lag < 1:
        raise ValueError(f"acf: max_lag must be >= 1, got {max_lag}")
    from pyspark.sql import Window
    keys = list(partition_cols)
    x_mu = F.round(F.col(value_col) * 1_000_000).cast("long")
    w = Window.partitionBy(*keys).orderBy(order_col)
    leads = F.array(*[F.lead(x_mu, k).over(w) for k in
                      range(1, max_lag + 1)])
    pairs = (df.select(*keys, x_mu.alias("_x"), leads.alias("_ls"))
             .select(*keys, "_x",
                     F.posexplode("_ls").alias("_k0", "_y"))
             # both ends non-null: a NULL x would skip the sums but not
             # the count, silently corrupting every moment
             .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
             .select(*keys, (F.col("_k0") + 1).alias("lag"),
                     "_x", "_y"))
    sums = (pairs.groupBy(*keys, "lag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("_x").alias("_sx"),
                 F.sum("_y").alias("_sy"),
                 F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
                 F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
                 F.sum(F.col("_x") * F.col("_y")).alias("_sxy")))
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return (sums.withColumn("acf", F.round(num / F.nullif(den, F.lit(0.0)),
                                           6))
            .select(*keys, "lag", "n", "acf"))


def fd_report(df: DataFrame, cols) -> DataFrame:
    """Exact functional-dependency discovery over a candidate column set:
    for every ordered pair (A, B), does A → B hold (every A-value maps to
    exactly one B-value), and if not, how badly is it violated?  The
    schema-inference / candidate-key primitive of a data profiler (TANE's
    level-1, done exactly) — "o_orderkey determines everything" is how a
    profiler discovers a key it was never told about.

    Returns (determinant, dependent, n_groups, n_violations, holds):
    n_groups = |distinct A|, n_violations = Σ_A (|distinct B within A| -
    1) — 0 iff the FD holds, and otherwise the exact number of extra
    B-values a repair would have to collapse.

    Plan: ONE groupBy(A) job per determinant (|cols| shuffles total, each
    map-side combined; the multi-countDistinct rides one Expand of
    |cols|-1 — the candidate set is bounded by contract, this is a
    profiling operator, not a corpus operator).  The per-group distinct
    counts collapse to a |cols|-row stack + a dependent-keyed aggregate,
    so nothing after the first aggregate is data-sized.  All outputs are
    exact integers (trivially engine-portable).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError(f"fd_report: need >= 2 columns, got {len(cols)}")
    parts = []
    for a in cols:
        others = [b for b in cols if b != a]
        per_group = (df.groupBy(a)
                     .agg(*[F.countDistinct(b).alias(b) for b in others]))
        items = ", ".join(f"'{b}', {b}" for b in others)
        long = per_group.selectExpr(
            f"stack({len(others)}, {items}) AS (dependent, _nd)")
        parts.append(
            long.groupBy("dependent")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum(F.col("_nd") - 1).alias("n_violations"),
                 F.max("_nd").alias("_max_nd"))
            .select(F.lit(a).alias("determinant"), "dependent",
                    "n_groups", "n_violations",
                    (F.col("_max_nd") == 1).alias("holds")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    fraud/synthetic-data tripwire of a data profiler: naturally-grown
    positive quantities (prices, populations, flows) follow
    P(d) = log10(1 + 1/d); fabricated or unit-mixed columns don't.

    Returns 9 rows (digit, n BIGINT, expected_micro, chi2_term_micro):
    digit counts are exact; each digit's expected probability and its
    (obs - n·p)²/(n·p) chi-squared term round ONCE to micro-units, so
    Σ chi2_term_micro is an exact-integer engine-portable statistic
    (compare to the χ²₈ 5% cut 15.51 — in micro-units, 15_510_000).

    Plan: one scan → 9-row aggregate (map-side combined).  The first
    significant digit is the leading digit of round(v·1e6) as a BIGINT
    (the house micro-unit trick): no log10 on the data path, no
    locale-formatted strings — a positive integer's decimal text leads
    with its first digit on every engine.  Values below 5e-7 round to
    micro-zero and drop (out of profile range by contract), as do
    non-positive and NULL values (Benford needs positive magnitudes).
    """
    v = F.col(value_col)
    digit = F.substring(
        F.round(F.abs(v.cast("double")) * 1_000_000).cast("long")
        .cast("string"), 1, 1)
    base = (df.filter(v.isNotNull() & (v > 0))
            .select(digit.cast("int").alias("digit"))
            .filter(F.col("digit").between(1, 9))
            .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = base.agg(F.sum("n").alias("_t"))
    import math
    expected = None
    for d in range(1, 10):
        p = math.log10(1 + 1 / d)
        e = F.when(F.col("digit") == d, F.lit(p))
        expected = e if expected is None else expected.when(
            F.col("digit") == d, F.lit(p))
    exp_p = expected.otherwise(F.lit(0.0))
    out = base.crossJoin(F.broadcast(tot))
    chi = ((F.col("n").cast("double") - F.col("_t") * exp_p)
           * (F.col("n").cast("double") - F.col("_t") * exp_p)
           / (F.col("_t") * exp_p))
    return (out.select("digit", "n",
                       F.round(exp_p * 1_000_000).cast("long")
                       .alias("expected_micro"),
                       F.round(chi * 1_000_000).cast("long")
                       .alias("chi2_term_micro"))
            .orderBy("digit"))


def gini_concentration(df: DataFrame, value_col: str,
                       group_cols=()) -> DataFrame:
    """Gini coefficient of a positive quantity per group — revenue /
    token-mass concentration ("do 1% of sources carry 60% of the
    corpus?"), the scalar a mixture-weight or cap policy reads first.

        G = (2·Σᵢ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n    (xᵢ ascending, i = 1..n)

    Exactness: values go to integer micro-units once; i·xᵢ and Σx are
    exact BIGINT sums (the rank is an exact integer), so G is ONE exact
    integer ratio — G·1e6 = (2·Σix − (n+1)·Σx)·1e6 / (n·Σx) — rounded
    half-up in integer space (`linalg._idiv_half_up`; the r11 audit:
    the old round(double, 6) subtracted two derived doubles on a
    rational lattice, the exact q_covariance hazard class).

    Plan: ONE per-group sort exchange (the rank window) + a group-sized
    aggregate.  Ties get deterministic ranks via the value-then-nothing
    ordering — G is tie-order-invariant because equal values swap equal
    contributions.  Non-positive/NULL values excluded (Lorenz needs a
    positive support).

    BIGINT bound (documented contract): Σ i·x_mu must fit int64 —
    n²·max(x)·1e6 < 9.2e18, e.g. 1M rows of values up to ~9k per group;
    pre-scale above that.
    """
    from pyspark.sql import Window

    keys = list(group_cols)
    v = F.col(value_col)
    x_mu = F.round(v * 1_000_000).cast("long")
    base = (df.filter(v.isNotNull() & (v > 0))
            .select(*keys, x_mu.alias("_x")))
    w = Window.partitionBy(*keys).orderBy(F.col("_x").asc())
    ranked = base.withColumn("_i", F.row_number().over(w))
    agg = (ranked.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("_x").alias("_sx"),
                F.sum(F.col("_i") * F.col("_x")).alias("_six")))
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    dec = "decimal(38,0)"
    n_dec = F.col("n").cast(dec)
    sx = F.col("_sx").cast(dec)
    six = F.col("_six").cast(dec)
    num = (F.lit(2).cast(dec) * six
           - (n_dec + F.lit(1).cast(dec)) * sx) \
        * F.lit(1_000_000).cast(dec)
    g = _idiv_half_up(num, n_dec * sx).cast("double") / F.lit(1e6)
    return agg.select(*keys, "n", g.alias("gini"))


def psi_report(reference: DataFrame, current: DataFrame, value_col: str,
               n_buckets: int = 10) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard production drift monitor (credit-risk
    heritage, now the default "did my feature distribution move"
    check):

        PSI = Σ_buckets (p_cur - p_ref) · ln(p_cur / p_ref)

    over equi-depth buckets OF THE REFERENCE (the reference defines the
    binning; current is scored against it — the operational convention,
    so a stable reference yields stable bin edges run over run).
    Rule-of-thumb cuts: < 0.10 stable, 0.10-0.25 shifting, > 0.25 moved.

    Plan: one percentile-buffer aggregate on the reference
    (`equidepth_bounds`), then ONE codegen bucket-ladder scan of each
    side → two B-row count relations joined on bucket.  Laplace +1 on
    both counts keeps empty buckets finite (and is symmetric, so a
    no-drift comparison still reads ~0).

    Exactness: counts exact; shares and the PSI term are one fixed
    double tree over them, the term micro-rounded ONCE per bucket so
    the total is an exact integer sum (psi_micro — compare to 100000 /
    250000 for the 0.10 / 0.25 cuts).
    """
    bounds = equidepth_bounds(reference, value_col, n_buckets)
    if not bounds:
        raise ValueError("psi_report: reference has no values to bin")
    ref = bucket_counts(reference, value_col, bounds, "n_ref")
    cur = bucket_counts(current, value_col, bounds, "n_cur")
    return psi_from_counts(ref, cur)


def bucket_counts(df: DataFrame, value_col: str, bounds: list[float],
                  name: str = "n") -> DataFrame:
    """Per-bucket counts under a literal boundary ladder — the shared
    binning step of the batch AND streaming drift monitors (the ladder
    is static, so the streaming form needs no stream-static join and
    its state is exactly B cells)."""
    return (df.filter(F.col(value_col).isNotNull())
            .select(bucket_expr(value_col, bounds).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name)))


def psi_from_counts(ref_counts: DataFrame,
                    cur_counts: DataFrame) -> DataFrame:
    """The PSI finisher over two (bucket, count) relations — B-row work,
    shared verbatim by `psi_report` and the streaming drift gate so
    stream/batch parity holds by construction."""
    j = (ref_counts.join(cur_counts, "bucket", "full_outer")
         .na.fill({"n_ref": 0, "n_cur": 0}))
    tr = j.agg(F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc"),
               F.count(F.lit(1)).alias("_k"))
    out = j.crossJoin(F.broadcast(tr))
    p_ref = ((F.col("n_ref") + 1).cast("double")
             / (F.col("_tr") + F.col("_k")).cast("double"))
    p_cur = ((F.col("n_cur") + 1).cast("double")
             / (F.col("_tc") + F.col("_k")).cast("double"))
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (out.select("bucket", "n_ref", "n_cur",
                       F.round(term * 1_000_000).cast("long")
                       .alias("psi_term_micro"))
            .orderBy("bucket"))


def js_divergence(p_df: DataFrame, q_df: DataFrame,
                  text_col: str = "text") -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — the SYMMETRIC, always-finite domain-shift scalar
    next to PSI (psi_report) and the DSIR importance weights:

        JSD = ½·KL(P‖M) + ½·KL(Q‖M),   M = (P+Q)/2,

    bounded in [0, ln 2], zero iff the distributions match.  Both term
    relations use the shared corpus tokenization; the mixture ratio is
    EXACT in integers — P/M = 2·c_p·N_q / (c_p·N_q + c_q·N_p) — so
    each per-term contribution P·ln(P/M) is one double tree over exact
    integers, quantized ONCE to signed micro-nats (contributions can
    be negative term-wise; the sums are nonnegative), summed as
    order-free BIGINTs, and the final halving is one exact integer
    ratio.  Absent terms contribute 0 (P = 0) or P·ln 2 (Q = 0) —
    JSD never needs smoothing, which is why it beats raw KL for
    monitoring.  Shape: two token explodes + hash aggs, a
    vocabulary-bounded full outer join, broadcast totals.  Returns one
    row (n_terms, kl_pm, kl_qm, jsd); either corpus empty → NULL."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up
    from flood_data_spark.datapipe.text import _words

    MICRO = 1_000_000
    dec = "decimal(38,0)"

    def counts(df, name):
        return (df.select(F.explode(_words(F.col(text_col)))
                          .alias("term"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias(name)))

    cp = counts(p_df, "cp")
    cq = counts(q_df, "cq")
    j = (cp.join(cq, "term", "full")
         .na.fill({"cp": 0, "cq": 0}))
    tot = j.agg(F.sum("cp").alias("np"), F.sum("cq").alias("nq"))
    x = j.crossJoin(F.broadcast(tot))
    cpd = F.col("cp").cast("double")
    cqd = F.col("cq").cast("double")
    npd = F.col("np").cast("double")
    nqd = F.col("nq").cast("double")
    # exact-integer mixture ratios evaluated as one double tree each
    r_p = (F.lit(2.0) * cpd * nqd) / (cpd * nqd + cqd * npd)
    r_q = (F.lit(2.0) * cqd * npd) / (cpd * nqd + cqd * npd)
    # the (np>0 & nq>0) guard keeps the division defined even when a
    # side is empty (the result is NULL then anyway — ANSI mode would
    # otherwise error on 0/0 inside the dead branch)
    both = (F.col("np") > 0) & (F.col("nq") > 0)
    t_p = F.when(both & (F.col("cp") > 0), (cpd / npd) * F.log(r_p)) \
        .otherwise(F.lit(0.0))
    t_q = F.when(both & (F.col("cq") > 0), (cqd / nqd) * F.log(r_q)) \
        .otherwise(F.lit(0.0))

    def q6(c):
        return (F.signum(c) * F.floor(F.abs(c) * MICRO + F.lit(0.5))) \
            .cast(dec)

    agg = x.agg(F.count(F.lit(1)).alias("n_terms"),
                F.min("np").alias("_np"), F.min("nq").alias("_nq"),
                F.sum(q6(t_p)).alias("_sp"),
                F.sum(q6(t_q)).alias("_sq"))
    ok = (F.col("_np") > 0) & (F.col("_nq") > 0)
    mega_f = F.lit(float(MICRO))
    two = F.lit(2).cast(dec)
    kl_pm = F.col("_sp").cast("double") / mega_f
    kl_qm = F.col("_sq").cast("double") / mega_f
    jsd = (_idiv_half_up(F.col("_sp") + F.col("_sq"), two)
           .cast("double") / mega_f)
    return agg.select(F.col("n_terms").cast("long").alias("n_terms"),
                      F.when(ok, kl_pm).alias("kl_pm"),
                      F.when(ok, kl_qm).alias("kl_qm"),
                      F.when(ok, jsd).alias("jsd"))


def mann_kendall_sen(df: DataFrame, value_col: str, order_col: str,
                     group_keys) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Sen's slope per group — the
    nonparametric trend pair every hydrological/climatological series
    analysis reports (Mann 1945, Kendall 1975; Sen 1968), robust where
    OLS [trend_stats] is outlier-dragged:

        S      = Σ_{i<j} sign(x_j − x_i)        (time-ordered)
        Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
        Z      = (S − sign(S)) / sqrt(Var(S))
        slope  = median{ (x_j − x_i)/(t_j − t_i) : t_i < t_j }

    Mechanics: values quantize ONCE to integer micros, then ONE
    group-keyed self-join on t_i < t_j materializes the pair relation
    (series-BOUNDED: feed aggregated series — monthly/annual points —
    so pairs are O(len²) per group independent of corpus size, exactly
    the POT/AMS posture of operators/extremes.py).  S and the tie
    spectrum are exact integer sums; Var(S)'s 18-denominator stays
    rational until the single sqrt seam (·1e6, floor(+0.5)); Z closes
    in `_idiv_half_up` integer space.  Sen's slope: each pairwise
    slope rounds half-up ONCE to integer micros (exact integer ratio —
    order-free), the median picks ranks ⌈m/2⌉ and ⌊m/2⌋+1 by value
    (tie permutations cannot change the picked VALUES) and averages
    them in integer space.  NULL Z when Var(S) = 0 (all-tied series).
    Returns (keys…, n, s, z, sen_slope, trend ∈
    {increasing, decreasing, no trend} at |Z| ≥ 1.959964); groups
    with fewer than two points have no pairs and are omitted.
    """
    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_keys)
    if not keys:
        raise ValueError("mann_kendall_sen: need at least one "
                         "group key")
    dec = "decimal(38,0)"
    c = F.col(value_col).cast("double")
    qx = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    # localCheckpoint: `base` is series-bounded by contract (feed
    # aggregated series), but its LINEAGE may be a corpus-sized
    # aggregation — and base is referenced three times below (both
    # self-join sides + the tie spectrum), so each reference re-ran
    # that aggregation (r16, guide §5; the _materialize_polys pattern)
    base = df.select(*keys, F.col(order_col).cast("long").alias("_t"),
                     qx.alias("_qx")).localCheckpoint(eager=True)
    a = base.select(*keys, F.col("_t").alias("_ti"),
                    F.col("_qx").alias("_xi"))
    b = base.select(*keys, F.col("_t").alias("_tj"),
                    F.col("_qx").alias("_xj"))
    pairs = a.join(b, on=keys).filter(F.col("_ti") < F.col("_tj"))
    sgn = F.when(F.col("_xj") > F.col("_xi"), F.lit(1)) \
        .when(F.col("_xj") < F.col("_xi"), F.lit(-1)).otherwise(F.lit(0))
    slope = _idiv_half_up((F.col("_xj") - F.col("_xi")).cast(dec),
                          (F.col("_tj") - F.col("_ti")).cast(dec))
    ps = pairs.select(*keys, sgn.alias("_sgn"), slope.alias("_slope"))
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy("_slope")
    ranked = (ps.withColumn("_r", F.row_number().over(w))
              .withColumn("_m", F.count(F.lit(1))
                          .over(Window.partitionBy(*keys))))
    lo = (F.col("_m") + 1) / 2
    hi = F.col("_m") / 2 + 1
    # S and the Sen median from ONE pass over the ranked pair relation
    # (r16, guide §2.4): the old med-filter + separate s_agg shape
    # instantiated the O(len²) pair self-join twice.  The conditional
    # sums are the old filtered aggregates verbatim (the med rows are
    # ≥ 1 whenever a group has a pair, so the old left join was
    # vestigially inner).
    is_med = (F.col("_r") == F.floor(lo)) | (F.col("_r") == F.floor(hi))
    sm = (ranked.groupBy(*keys)
          .agg(F.sum("_sgn").cast("long").alias("s"),
               _idiv_half_up(
                   F.sum(F.when(is_med, F.col("_slope"))).cast(dec)
                   * F.lit(2).cast(dec),
                   F.count(F.when(is_med, F.lit(1))).cast(dec)
                   * F.lit(2).cast(dec)).alias("_med")))
    # tie spectrum: per distinct value, t(t−1)(2t+5)
    ties = (base.groupBy(*keys, "_qx")
            .agg(F.count(F.lit(1)).alias("_tc"))
            .groupBy(*keys)
            .agg(F.sum(F.col("_tc").cast(dec)
                       * (F.col("_tc").cast(dec) - F.lit(1).cast(dec))
                       * (F.lit(2).cast(dec) * F.col("_tc").cast(dec)
                          + F.lit(5).cast(dec))).alias("_tsum"),
                 F.sum("_tc").cast("long").alias("n")))
    n_dec = F.col("n").cast(dec)
    var18 = (n_dec * (n_dec - F.lit(1).cast(dec))
             * (F.lit(2).cast(dec) * n_dec + F.lit(5).cast(dec))
             - F.col("_tsum"))
    out = ties.join(sm, on=keys)
    # one sqrt seam: sqrt(var18/18)·1e6, floor(+0.5) — var18/18.0 is an
    # exact-integer-over-literal double division, identical IEEE both
    # engines
    qden = F.floor(F.sqrt(var18.cast("double") / F.lit(18.0))
                   * F.lit(1e6) + F.lit(0.5)).cast(dec)
    s_dec = F.col("s").cast(dec)
    zshift = F.when(F.col("s") > 0, s_dec - F.lit(1).cast(dec)) \
        .when(F.col("s") < 0, s_dec + F.lit(1).cast(dec)) \
        .otherwise(F.lit(0).cast(dec))
    mega2 = F.lit(1_000_000_000_000).cast(dec)
    zq = F.when(var18 > 0, _idiv_half_up(zshift * mega2, qden))
    mega_f = F.lit(1e6)
    trend = (F.when(zq.isNull(), F.lit("no trend"))
             .when((F.abs(zq) >= F.lit(1959964).cast(dec))
                   & (F.col("s") > 0), F.lit("increasing"))
             .when((F.abs(zq) >= F.lit(1959964).cast(dec))
                   & (F.col("s") < 0), F.lit("decreasing"))
             .otherwise(F.lit("no trend")))
    return (out.select(*keys, "n", "s",
                       (zq.cast("double") / mega_f).alias("z"),
                       (F.col("_med").cast("double") / mega_f)
                       .alias("sen_slope"),
                       trend.alias("trend"))
            .orderBy(*keys))


def ks_two_sample(df: DataFrame, value_col: str, label_col: str,
                  label_a: str, label_b: str, group_keys,
                  alpha_coeff: float = 1.358) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per group — the
    distribution-shift detector that complements [psi_report] (binned,
    needs a reference grid) with an exact, binning-free statistic:

        D = sup_x |F_a(x) − F_b(x)|

    evaluated at every distinct value (where the sup is attained).
    ENTIRELY integer-exact: per distinct value the two cumulative
    counts c_a, c_b give |c_a·n_b − c_b·n_a|, whose max over values is
    an integer numerator of D over n_a·n_b — values are compared and
    grouped, never arithmetic'd, so no quantization is needed at all.
    The only IEEE seam is the α = 0.05 critical value
    c·sqrt((n_a+n_b)/(n_a·n_b)) (`alpha_coeff` = 1.358 for 5 %),
    quantized ·1e6 floor(+0.5); the reject flag is an integer compare
    against it.  Two exchanges: one to distinct-value cells (ties
    collapse BEFORE the window — the correct ECDF treatment), one
    value-ordered cumulative window per group.  Returns (keys…, n_a,
    n_b, d, crit_05, reject_05), sorted; groups missing either sample
    get NULL d (no comparison exists)."""
    from flood_data_spark.datapipe.linalg import _idiv_half_up
    from pyspark.sql import Window

    keys = list(group_keys)
    if not keys:
        raise ValueError("ks_two_sample: need at least one group key")
    dec = "decimal(38,0)"
    labeled = df.filter(F.col(label_col).isin(label_a, label_b))
    cells = (labeled.groupBy(*keys, F.col(value_col).alias("_v"))
             .agg(F.sum(F.when(F.col(label_col) == label_a, 1)
                        .otherwise(0)).alias("_ca"),
                  F.sum(F.when(F.col(label_col) == label_b, 1)
                        .otherwise(0)).alias("_cb")))
    w = (Window.partitionBy(*keys).orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy(*keys)
    cum = (cells.withColumn("_fa", F.sum("_ca").over(w))
           .withColumn("_fb", F.sum("_cb").over(w))
           .withColumn("_na", F.sum("_ca").over(wtot))
           .withColumn("_nb", F.sum("_cb").over(wtot)))
    agg = (cum.groupBy(*keys)
           .agg(F.max("_na").cast("long").alias("n_a"),
                F.max("_nb").cast("long").alias("n_b"),
                F.max(F.abs(F.col("_fa").cast(dec)
                            * F.col("_nb").cast(dec)
                            - F.col("_fb").cast(dec)
                            * F.col("_na").cast(dec)))
                .alias("_dnum")))
    na = F.col("n_a").cast(dec)
    nb = F.col("n_b").cast(dec)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    dq = _idiv_half_up(F.col("_dnum") * F.lit(1_000_000).cast(dec),
                       F.greatest(na * nb, F.lit(1).cast(dec)))
    crit = F.floor(
        F.lit(float(alpha_coeff))
        * F.sqrt((na + nb).cast("double") / (na * nb).cast("double"))
        * F.lit(1e6) + F.lit(0.5)).cast(dec)
    mega_f = F.lit(1e6)
    return (agg.select(*keys, "n_a", "n_b",
                       F.when(ok, dq.cast("double") / mega_f)
                       .alias("d"),
                       F.when(ok, crit.cast("double") / mega_f)
                       .alias("crit_05"),
                       F.when(ok, dq > crit).alias("reject_05"))
            .orderBy(*keys))


def hurst_rs(df: DataFrame, value_col: str, order_col: str,
             group_keys, window_sizes=(16, 64, 256)) -> DataFrame:
    """Hurst exponent per group by rescaled-range analysis — the
    long-range-dependence statistic INVENTED on flood series (Hurst
    1951, sizing the Aswan reservoir from Nile minima; H ≈ 0.5 ⇒
    short memory, H > 0.5 ⇒ the persistent clustering of wet/dry
    years that reservoir design must carry):

        per block of m points:  R = max_j Z_j − min_j Z_j,
                                Z_j = Σ_{i≤j}(x_i − x̄),
                                S = population std
        E[R/S] ∝ m^H  ⇒  H = slope of ln(R/S) on ln(m)

    Determinism chain: values quantize ONCE to micros; deviations
    clear the block mean by m (D_i = m·qx_i − Σqx — exact integers),
    so prefix sums, R·m, and the n-cleared variance are all integer;
    S·m takes ONE sqrt seam per block (floor(+0.5)); R/S closes in
    `_idiv_half_up` integer space; per-size means are integer ratios;
    ln(R/S) takes one seam per size while ln(m) is a driver-side
    integer LITERAL; the final OLS slope is one exact integer ratio.
    Plan: the size dimension is a literal explode (|sizes|-bounded),
    the prefix window partitions by (keys, size, block) — block-
    bounded buffers — and every aggregate is map-side combinable.
    Incomplete tail blocks and zero-variance blocks drop (standard).
    Returns (keys…, k_sizes, hurst); NULL when fewer than two sizes
    survive.  `order_col` must be a 0-based contiguous integer index
    per group (build it with row_number upstream)."""
    import math as _math

    from flood_data_spark.datapipe.linalg import _idiv_half_up
    from pyspark.sql import Window

    keys = list(group_keys)
    if not keys:
        raise ValueError("hurst_rs: need at least one group key")
    sizes = [int(m) for m in window_sizes]
    if len(sizes) < 2 or any(m < 2 for m in sizes):
        raise ValueError("hurst_rs: need >= 2 window sizes, each >= 2")
    dec = "decimal(38,0)"
    mega = F.lit(1_000_000).cast(dec)
    mega_f = F.lit(1e6)
    c = F.col(value_col).cast("double")
    qx = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    base = df.select(*keys, F.col(order_col).cast("long").alias("_t"),
                     qx.alias("_qx"))
    wide = (base.select(*keys, "_t", "_qx",
                        F.explode(F.array(*[F.lit(m) for m in sizes]))
                        .alias("_m"))
            .withColumn("_blk", F.expr("_t div _m")))
    gcols = [*keys, "_m", "_blk"]
    blk = (wide.groupBy(*gcols)
           .agg(F.count(F.lit(1)).alias("_cnt"),
                F.sum(F.col("_qx").cast(dec)).alias("_s1"),
                F.sum(F.col("_qx").cast(dec) * F.col("_qx").cast(dec))
                .alias("_s2"))
           .filter(F.col("_cnt") == F.col("_m"))
           .withColumn("_varn",
                       F.col("_m").cast(dec) * F.col("_s2")
                       - F.col("_s1") * F.col("_s1")))
    j = wide.join(blk.select(*gcols, "_s1", "_varn"), gcols)
    dmt = F.col("_m").cast(dec) * F.col("_qx").cast(dec) - F.col("_s1")
    wp = (Window.partitionBy(*gcols).orderBy("_t")
          .rowsBetween(Window.unboundedPreceding, 0))
    pre = j.withColumn("_z", F.sum(dmt).over(wp))
    rs = (pre.groupBy(*gcols)
          .agg((F.max("_z") - F.min("_z")).alias("_rm"),
               F.max("_varn").alias("_vn"))
          .withColumn("_qs",
                      F.floor(F.sqrt(F.col("_vn").cast("double"))
                              + F.lit(0.5)).cast(dec))
          .filter(F.col("_qs") > 0)
          .withColumn("_rs", _idiv_half_up(F.col("_rm") * mega,
                                           F.col("_qs"))))
    perm = (rs.groupBy(*keys, "_m")
            .agg(F.count(F.lit(1)).alias("_kb"),
                 _idiv_half_up(F.sum("_rs"),
                               F.count(F.lit(1)).cast(dec))
                 .alias("_rsm"))
            .filter(F.col("_rsm") > 0))
    lrs_raw = F.log(F.col("_rsm").cast("double") / mega_f) * mega_f
    lrs = (F.signum(lrs_raw) * F.floor(F.abs(lrs_raw) + F.lit(0.5))) \
        .cast(dec)
    lm_expr = None
    for m in sizes:
        lit_lm = F.lit(int(_math.floor(_math.log(m) * 1e6 + 0.5))) \
            .cast(dec)
        lm_expr = F.when(F.col("_m") == m, lit_lm) if lm_expr is None \
            else lm_expr.when(F.col("_m") == m, lit_lm)
    pts = perm.select(*keys, lm_expr.alias("_lx"), lrs.alias("_ly"))
    fin = (pts.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("k_sizes"),
                F.sum("_lx").alias("_sx"), F.sum("_ly").alias("_sy"),
                F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
                F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx")))
    k_dec = F.col("k_sizes").cast(dec)
    den = k_dec * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    num = k_dec * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    hurst = F.when((F.col("k_sizes") >= 2) & (den > 0),
                   _idiv_half_up(num * mega, den).cast("double")
                   / mega_f)
    return (fin.select(*keys, F.col("k_sizes").cast("long")
                       .alias("k_sizes"), hurst.alias("hurst"))
            .orderBy(*keys))


def seasonal_mann_kendall(df: DataFrame, value_col: str,
                          order_col: str, season_col: str,
                          group_keys) -> DataFrame:
    """Seasonal Mann-Kendall trend test + seasonal Sen's slope per
    group (Hirsch & Slack 1984 — the USGS-standard variant for series
    with seasonality, where plain [mann_kendall_sen] mistakes the
    annual cycle for trend): compute S and Var(S) WITHIN each season,
    then combine:

        S = Σ_m S_m,   Var(S) = Σ_m Var(S_m),
        Z = (S − sign(S)) / sqrt(Var(S))
        slope = median{ within-season pairwise slopes, pooled }

    (the independent-seasons form; the serial-covariance correction
    of the 1984 paper's §4 applies to strongly autocorrelated
    monthlies and is out of scope — documented, not silent).

    Mechanics are [mann_kendall_sen] with the pair join and the tie
    spectrum keyed by (keys, season): pairs stay season-bounded
    (O(Σ_m len_m²) per group), S and the tie sums are exact integers,
    Var(S)'s 18-denominator stays rational until the SAME single sqrt
    seam, Z closes in integer space, and the pooled Sen median uses
    the identical two-rank pick.  Returns (keys…, n, n_seasons, s, z,
    sen_slope, trend), sorted; NULL Z when Var(S) = 0."""
    from pyspark.sql import Window

    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_keys)
    if not keys:
        raise ValueError("seasonal_mann_kendall: need at least one "
                         "group key")
    dec = "decimal(38,0)"
    c = F.col(value_col).cast("double")
    qx = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    # localCheckpoint: series-bounded by contract, referenced three
    # times (both self-join sides + the tie spectrum) — see
    # mann_kendall_sen (r16)
    base = df.select(*keys, F.col(season_col).alias("_season"),
                     F.col(order_col).cast("long").alias("_t"),
                     qx.alias("_qx")).localCheckpoint(eager=True)
    a = base.select(*keys, "_season", F.col("_t").alias("_ti"),
                    F.col("_qx").alias("_xi"))
    b = base.select(*keys, "_season", F.col("_t").alias("_tj"),
                    F.col("_qx").alias("_xj"))
    pairs = a.join(b, on=[*keys, "_season"]) \
        .filter(F.col("_ti") < F.col("_tj"))
    sgn = F.when(F.col("_xj") > F.col("_xi"), F.lit(1)) \
        .when(F.col("_xj") < F.col("_xi"), F.lit(-1)) \
        .otherwise(F.lit(0))
    slope = _idiv_half_up((F.col("_xj") - F.col("_xi")).cast(dec),
                          (F.col("_tj") - F.col("_ti")).cast(dec))
    ps = pairs.select(*keys, sgn.alias("_sgn"), slope.alias("_slope"))
    w = Window.partitionBy(*keys).orderBy("_slope")
    ranked = (ps.withColumn("_r", F.row_number().over(w))
              .withColumn("_m", F.count(F.lit(1))
                          .over(Window.partitionBy(*keys))))
    lo = (F.col("_m") + 1) / 2
    hi = F.col("_m") / 2 + 1
    # S and the pooled Sen median from ONE pass over the ranked pair
    # relation — the mann_kendall_sen merge (r16, guide §2.4); the
    # old shape instantiated the pair self-join twice
    is_med = (F.col("_r") == F.floor(lo)) | (F.col("_r") == F.floor(hi))
    sm = (ranked.groupBy(*keys)
          .agg(F.sum("_sgn").cast("long").alias("s"),
               _idiv_half_up(
                   F.sum(F.when(is_med, F.col("_slope"))).cast(dec)
                   * F.lit(2).cast(dec),
                   F.count(F.when(is_med, F.lit(1))).cast(dec)
                   * F.lit(2).cast(dec)).alias("_med")))
    # per-season tie spectrum and variance, then the Σ_m combine
    two, five, one = (F.lit(v).cast(dec) for v in (2, 5, 1))
    per_season = (base.groupBy(*keys, "_season", "_qx")
                  .agg(F.count(F.lit(1)).alias("_tc"))
                  .groupBy(*keys, "_season")
                  .agg(F.sum(F.col("_tc").cast(dec)
                             * (F.col("_tc").cast(dec) - one)
                             * (two * F.col("_tc").cast(dec) + five))
                       .alias("_tsum"),
                       F.sum("_tc").cast(dec).alias("_nm")))
    var_m = (F.col("_nm") * (F.col("_nm") - one)
             * (two * F.col("_nm") + five) - F.col("_tsum"))
    combined = (per_season.select(*keys, F.col("_nm"),
                                  var_m.alias("_v18"))
                .groupBy(*keys)
                .agg(F.sum("_nm").cast("long").alias("n"),
                     F.count(F.lit(1)).cast("long")
                     .alias("n_seasons"),
                     F.sum("_v18").alias("_var18")))
    # LEFT join + coalesce(s, 0): a group with zero within-season
    # comparable pairs (e.g. every season observed once) has no
    # sm row — it must surface with s = 0, NULL z, 'no trend'
    # (the Var(S)=0 convention), not silently vanish (round-15
    # ADVICE fix).
    out = (combined.join(sm, on=keys, how="left")
           .withColumn("s", F.coalesce(F.col("s"),
                                       F.lit(0).cast("long"))))
    var18 = F.col("_var18")
    qden = F.floor(F.sqrt(var18.cast("double") / F.lit(18.0))
                   * F.lit(1e6) + F.lit(0.5)).cast(dec)
    s_dec = F.col("s").cast(dec)
    zshift = F.when(F.col("s") > 0, s_dec - one) \
        .when(F.col("s") < 0, s_dec + one) \
        .otherwise(F.lit(0).cast(dec))
    mega2 = F.lit(1_000_000_000_000).cast(dec)
    zq = F.when(var18 > 0, _idiv_half_up(zshift * mega2, qden))
    mega_f = F.lit(1e6)
    trend = (F.when(zq.isNull(), F.lit("no trend"))
             .when((F.abs(zq) >= F.lit(1959964).cast(dec))
                   & (F.col("s") > 0), F.lit("increasing"))
             .when((F.abs(zq) >= F.lit(1959964).cast(dec))
                   & (F.col("s") < 0), F.lit("decreasing"))
             .otherwise(F.lit("no trend")))
    return (out.select(*keys, "n", "n_seasons", "s",
                       (zq.cast("double") / mega_f).alias("z"),
                       (F.col("_med").cast("double") / mega_f)
                       .alias("sen_slope"),
                       trend.alias("trend"))
            .orderBy(*keys))


def pettitt_test(df: DataFrame, value_col: str, order_col: str,
                 group_keys) -> DataFrame:
    """Pettitt change-point test per group (Pettitt 1979 — the
    rank-based single-changepoint detector hydrology pairs with
    [mann_kendall_sen]: MK asks 'is there a monotonic trend', Pettitt
    asks 'did the distribution SHIFT, and when'):

        U_t  = Σ_{i≤t} Σ_{j>t} sign(x_j − x_i)
        K    = max_t |U_t|,   t* = argmax (earliest on ties)
        p    ≈ 2·exp(−6K² / (n³ + n²))     (Pettitt's approximation)

    Mechanics: ONE group-keyed self-join on t_i < t_j materializes
    the sign relation ([mann_kendall_sen]'s pair posture — feed
    aggregated annual/monthly series, so pairs are series-bounded);
    U_t is a running integer sum of per-boundary sign totals off one
    ordered window; K and t* come from ONE more aggregate with a
    deterministic earliest-t tiebreak.  Everything is exact integers
    except the p-value's single exp seam (exact integer argument
    ratio, quantized floor(+0.5) — the ln/exp-portability rule).
    Returns (keys…, n, k_stat, t_change, p_value, shift), sorted;
    `shift` flags p < 0.05.  Groups with n < 2 report NULL."""
    from pyspark.sql import Window

    from flood_data_spark.datapipe.linalg import _idiv_half_up

    keys = list(group_keys)
    if not keys:
        raise ValueError("pettitt_test: need at least one group key")
    dec = "decimal(38,0)"
    c = F.col(value_col).cast("double")
    qx = (F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000)
                                + F.lit(0.5))).cast("long")
    # localCheckpoint: series-bounded by contract, referenced three
    # times (both self-join sides + n) — see mann_kendall_sen (r16)
    base = df.select(*keys, F.col(order_col).cast("long").alias("_t"),
                     qx.alias("_qx")).localCheckpoint(eager=True)
    a = base.select(*keys, F.col("_t").alias("_ti"),
                    F.col("_qx").alias("_xi"))
    b = base.select(*keys, F.col("_t").alias("_tj"),
                    F.col("_qx").alias("_xj"))
    pairs = a.join(b, on=keys).filter(F.col("_ti") < F.col("_tj"))
    sgn = F.when(F.col("_xj") > F.col("_xi"), F.lit(1)) \
        .when(F.col("_xj") < F.col("_xi"), F.lit(-1)) \
        .otherwise(F.lit(0))
    # per-boundary total: every pair (i, j) contributes sign to U_t
    # for all t in [t_i, t_j) — equivalently U_t = Σ over boundaries
    # of the running sum of (contributions entering at t_i MINUS
    # contributions leaving at t_j).  Two scatter rows per pair,
    # then one cumulative window — O(pairs), never O(n·pairs).  The
    # scatter is ONE explode, not an enter ∪ leave union that would
    # instantiate the O(len²) pair self-join twice (r16, guide §2.4)
    deltas = (pairs.select(*keys, F.explode(F.array(
        F.struct(F.col("_ti").alias("_t"), sgn.alias("_d")),
        F.struct(F.col("_tj").alias("_t"), (-sgn).alias("_d"))))
        .alias("_e"))
        .select(*keys, F.col("_e._t").alias("_t"),
                F.col("_e._d").alias("_d"))
        .groupBy(*keys, "_t")
        .agg(F.sum("_d").cast("long").alias("_dd")))
    w = (Window.partitionBy(*keys).orderBy("_t")
         .rowsBetween(Window.unboundedPreceding, 0))
    u = deltas.withColumn("_u", F.sum("_dd").over(w))
    n_rel = base.groupBy(*keys).agg(F.count(F.lit(1)).cast("long")
                                    .alias("n"))
    best = (u.groupBy(*keys)
            .agg(F.max(F.struct(F.abs(F.col("_u")).alias("k"),
                                (-F.col("_t")).alias("_nt")))
                 .alias("_b")))
    out = (n_rel.join(best, on=keys, how="left")
           .select(*keys, "n",
                   F.col("_b.k").alias("k_stat"),
                   (-F.col("_b._nt")).alias("t_change")))
    k_dec = F.col("k_stat").cast(dec)
    n_dec = F.col("n").cast(dec)
    # p = 2·exp(−6K²/(n³+n²)): the argument closes as an exact
    # integer-micro ratio, then ONE exp seam
    arg_q = _idiv_half_up(
        F.lit(-6).cast(dec) * k_dec * k_dec
        * F.lit(1_000_000).cast(dec),
        F.greatest(n_dec * n_dec * (n_dec + F.lit(1).cast(dec)),
                   F.lit(1).cast(dec)))
    # min(1, p): 2·exp(·) exceeds 1 for small K (an all-tied series
    # has K = 0 → 2.0 raw) — standard implementations clamp, so do we
    # (round-15 ADVICE fix).
    p_seam = F.least(
        F.floor(F.lit(2e6)
                * F.exp(arg_q.cast("double") / F.lit(1e6))
                + F.lit(0.5)).cast("long"),
        F.lit(1_000_000))
    pq = F.when(F.col("k_stat").isNotNull() & (F.col("n") >= 2),
                p_seam)
    return (out.select(
        *keys, "n", "k_stat",
        F.when(pq.isNotNull(), F.col("t_change")).alias("t_change"),
        (pq.cast("double") / F.lit(1e6)).alias("p_value"),
        F.when(pq.isNotNull(), pq < 50_000).alias("shift"))
        .orderBy(*keys))
