"""Forecast post-processing — empirical quantile-mapping bias
correction (Panofsky & Brier 1968; the CDF-matching method
operational hydrology applies between a model's climate and the
observed one before thresholds are compared — GloFAS-class discharge
reforecasts are corrected exactly this way before skill is scored).

For each simulated value x with within-group plotting position
p = i/(n+1) (Weibull), the corrected value is the OBSERVED empirical
quantile at p, linearly interpolated between observed order statistics
(the type-7/linear convention):

    h = 1 + p·(m−1),   f = ⌊h⌋,   corrected = o_(f) + (h−f)·(o_(f+1) − o_(f))

Determinism discipline (datapipe/linalg.py): ranks are exact integers;
h splits into EXACT integer quotient/remainder (num = i·(m−1),
den = n+1 — f = 1 + num div den, rem = num mod den), and the
interpolation closes as ONE `_idiv_half_up` of rem·(o_(f+1) − o_(f))
over den in quantized micro space.  ZERO double seams — the whole
operator is integer arithmetic, so the oracle matches bit-for-bit by
construction.  Because i ≤ n implies num/den < m−1, f+1 ≤ m always
exists; m = 1 degenerates to rem = 0 and maps everything to the
single observed value.

RANK STRATEGY (round-15; VERDICT r14 #3).  A plain per-group rank
window serializes on group cardinality: a caller with 3 climatology
groups sorts each group in ONE task — measured 25.3 s cold at x10,
and a single-task 100M-row sort at 100× data.  But the bucketed
machinery that fixes it costs ~2 extra corpus passes, which LOSES at
ordinary scale (measured: 3.9 s classic vs 6.9-9.0 s bucketed at the
857k-row x10 gate, where each per-group sort is ~1 s).  So the caller
names the route from the group sizes it knows, and building the plan
fires no job:

  - `nbuckets=None` (default) keeps the classic single-window plan —
    zero machinery, the measured-fast path while groups stay under
    ~2M rows (a one-task sort of ~2M longs is cheaper than the bucket
    machinery that would replace it).
  - `nbuckets=B` (B ≥ 2) switches to the BUCKETED TWO-PASS rank
    (the r8 equi-depth histogram trick) for groups past ~2M rows:
    per-group value-quantile boundaries sketched from the sample
    (percentile_approx — accuracy only steers LOAD BALANCE, never
    output values), rows bucket by
    boundary count (a pure function of the value, so ties never
    straddle buckets), row_number within (group, bucket), then exact
    per-bucket prefix-count offsets off a groups×B-bounded broadcast:
    rank = offset + within-bucket row_number — EXACTLY the global
    per-group rank, with sort parallelism groups×B instead of groups
    (measured 105 s classic → 30.6 s bucketed at 3 groups × 8M rows).

Scale posture: the corpus moves once into its rank exchange (+ the
sample scan and, on the bucketed path, one counting pass — all cheap
relative to the serialized sort they replace); boundary/offset
relations are groups(×B)-bounded broadcasts; the obs successor value
o_(f+1) is the within-bucket lead patched at bucket edges from the
offset relation's per-bucket minima (no self-join); and the
order-statistic lookup stays ONE equi-join of sim against the
m-bounded observed order statistics on (group, f) — co-partitioned
when obs is large, broadcastable when it is the usual station
climatology.

Duplicate sim values: row_number assigns distinct ranks to equal
values, so tied rows receive adjacent plotting positions — the OUTPUT
MULTISET is permutation-invariant (tied input rows are
indistinguishable), which is the determinism contract the gates hash.

No reference analog; beyond-reference inventory (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flood_data_spark.datapipe.linalg import _idiv_half_up

MICRO = 1_000_000
# 1-in-SAMPLE_RATE value-hash sample feeds the bucketed path's
# BOUNDARY sketch (load balance only — fine for ties to be
# all-or-nothing there).
SAMPLE_RATE = 211


def _classic_rank(df: DataFrame, keys: list, qcol: str,
                  rank_name: str, n_name: str,
                  lead_col: str | None = None) -> DataFrame:
    """Single-window per-group rank (+ optional successor value) —
    the right plan while per-group sorts stay task-sized."""
    w = Window.partitionBy(*keys).orderBy(qcol)
    wn = (Window.partitionBy(*keys)
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    out = (df.withColumn(rank_name,
                         F.row_number().over(w).cast("long"))
           .withColumn(n_name, F.count(F.lit(1)).over(wn)
                       .cast("long")))
    if lead_col is not None:
        out = out.withColumn(lead_col, F.lead(qcol).over(w))
    return out


def _bucketed_rank(df: DataFrame, keys: list, qcol: str,
                   nbuckets: int, rank_name: str, n_name: str,
                   lead_col: str | None = None) -> DataFrame:
    """Two-pass exact per-group rank with sort parallelism groups×B
    (module docstring).  Output contract identical to
    [_classic_rank]: NULLs rank first, ties in input order within
    their (value-determined) bucket."""
    qx = F.col(qcol)
    probs = [i / nbuckets for i in range(1, nbuckets)]
    sample = df.filter(
        F.pmod(F.xxhash64(qx, F.lit("qm-bnd")),
               F.lit(SAMPLE_RATE)) == 0)
    bnds = (sample.groupBy(*keys)
            .agg(F.percentile_approx(qcol, probs).alias("_bnds")))
    # bucket = #(boundaries <= value): a pure function of the VALUE
    # (ties share a bucket); NULL values sort first, pinning them to
    # bucket 0 like the single window's NULLS FIRST; groups absent
    # from the sample collapse to bucket 0 (small by construction).
    bkt = F.when(qx.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(
            F.coalesce(F.col("_bnds"), F.array().cast("array<long>")),
            lambda b: b <= qx)))
    d = (df.join(F.broadcast(bnds), keys, "left")
         .withColumn("_bkt", bkt).drop("_bnds"))
    # exact per-bucket counts: ONE counting pass (a partial-agg
    # groupBy — map-side combined, groups×B result), NOT derived from
    # the window output (a broadcast subtree re-executes its lineage;
    # exchange reuse across broadcast boundaries measurably does not
    # fire, so the direct pass is the cheaper plan)
    cnt = d.groupBy(*keys, "_bkt").agg(
        F.count(F.lit(1)).cast("long").alias("_bc"),
        F.min(qcol).alias("_b1"))
    wp = (Window.partitionBy(*keys).orderBy("_bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    wt = (Window.partitionBy(*keys)
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    wl = Window.partitionBy(*keys).orderBy("_bkt")
    ofs = (cnt.withColumn("_ofs",
                          F.coalesce(F.sum("_bc").over(wp),
                                     F.lit(0).cast("long")))
           .withColumn(n_name, F.sum("_bc").over(wt).cast("long"))
           .withColumn("_nxq", F.lead("_b1").over(wl))
           .select(*keys, "_bkt", "_ofs", n_name, "_nxq"))
    wr = Window.partitionBy(*keys, "_bkt").orderBy(qcol)
    out = (d.join(F.broadcast(ofs), [*keys, "_bkt"])
           .withColumn("_wr", F.row_number().over(wr).cast("long"))
           .withColumn(rank_name, F.col("_ofs") + F.col("_wr")))
    if lead_col is not None:
        # bucket-edge patch: the last row of a bucket leads into the
        # next non-empty bucket's minimum (empty buckets don't exist
        # in cnt, so _nxq is exactly the next value in rank order)
        out = out.withColumn(
            lead_col, F.coalesce(F.lead(qcol).over(wr),
                                 F.col("_nxq")))
    return out.drop("_bkt", "_ofs", "_wr", "_nxq")


def quantile_map(sim: DataFrame, obs: DataFrame, value_col: str,
                 group_keys, nbuckets: int | None = None) -> DataFrame:
    """Map each `sim` row's value onto the observed distribution of
    its group (module docstring).  Both frames need `group_keys` and
    `value_col`; groups present in sim but absent from obs emit NULL
    mapped values (left join).  `nbuckets` names the rank route: None
    (default) ranks each group in one window, an int ≥ 2 ranks through
    that many value buckets per group — pass it when groups run past
    ~2M rows (module docstring).  Both routes emit the same rows.
    Returns (keys…, value, p, mapped); row order is unspecified (r16:
    the former global (keys, value) sort cost a full range exchange of
    the corpus-sized output — sort at the caller if presentation order
    matters)."""
    keys = list(group_keys)
    if not keys:
        raise ValueError("quantile_map: need at least one group key")
    if nbuckets is not None and nbuckets < 2:
        raise ValueError("quantile_map: nbuckets must be None or >= 2, "
                         f"got {nbuckets}")

    def q(col):
        c = col.cast("double")
        return (F.signum(c) * F.floor(F.abs(c) * MICRO + F.lit(0.5))) \
            .cast("long")

    # r17 (guide §5; the ivfpq-residuals / textrank cache precedent):
    # BOTH narrow quantized projections persist — each side is consumed
    # several times per query (the rank machinery's sample/count/rank
    # references, the obs count), and broadcast subtrees re-execute
    # their lineage, so the un-cached plan re-ran the upstream scan 18×
    # on the bucketed tier (measured; 6× on the classic tier).  The
    # cache is query-internal scratch of a 2-3-column projection — at
    # 100 TB that is the narrow relation the §8 discipline says to
    # iterate on, not the raw corpus.
    s0 = sim.select(*keys, F.col(value_col).alias("value"),
                    q(F.col(value_col)).alias("_qx")).persist()
    o0 = obs.select(*keys, q(F.col(value_col)).alias("_oq")).persist()

    if nbuckets is None:
        s = _classic_rank(s0, keys, "_qx", "_i", "_n")
        o = _classic_rank(o0, keys, "_oq", "_j", "_m",
                          lead_col="_onext")
    else:
        s = _bucketed_rank(s0, keys, "_qx", nbuckets, "_i", "_n")
        o = _bucketed_rank(o0, keys, "_oq", nbuckets, "_j", "_m",
                           lead_col="_onext")

    dec = "decimal(38,0)"
    # the group-bounded obs count joins onto sim FIRST (tiny relation,
    # one row per group), so f/rem can be computed before the order-
    # statistic join — which then stays a plain equi-join on (keys, f),
    # never an m-way theta scan per sim row
    # derived from the CACHED o0, not raw obs (row-for-row identical —
    # the projection drops no rows), so the count rides the cache
    # instead of a third upstream lineage
    mcnt = o0.groupBy(*keys).agg(F.count(F.lit(1)).alias("_mc"))
    s = s.join(F.broadcast(mcnt), keys, "left")
    num = F.col("_i").cast(dec) * (F.col("_mc").cast(dec)
                                   - F.lit(1).cast(dec))
    den = F.col("_n").cast(dec) + F.lit(1).cast(dec)
    # f = 1 + num div den via the exact decimal floor-quotient idiom;
    # rem = num − f0·den (both non-negative)
    f0 = ((num - num % den) / den).cast(dec)
    rem = num % den
    s2 = s.select(*keys, "value", "_qx",
                  (f0 + F.lit(1).cast(dec)).cast("long").alias("_f"),
                  rem.alias("_rem"), den.alias("_den"),
                  _idiv_half_up(
                      F.col("_i").cast(dec) * F.lit(MICRO).cast(dec),
                      den).alias("_pq"))
    j = s2.join(o.select(*keys, F.col("_j").alias("_f"),
                         "_oq", "_onext"),
                [*keys, "_f"], "left")
    interp = F.when(
        F.col("_rem") == 0, F.lit(0).cast(dec)) \
        .otherwise(_idiv_half_up(
            F.col("_rem")
            * (F.col("_onext").cast(dec) - F.col("_oq").cast(dec)),
            F.col("_den")))
    mapped_q = F.when(F.col("_oq").isNotNull(),
                      F.col("_oq").cast(dec) + interp)
    mega_f = F.lit(float(MICRO))
    # r16 (guide §2.4): no final global sort — the old .orderBy(*keys,
    # "value") added a full range Exchange of the corpus-sized output
    # plus the range-partitioner sampling pass (measured: 8.7 s -> 5.6 s
    # warm at the x10 tier with the sort dropped).  Row ORDER was purely
    # cosmetic: the output multiset is unchanged and the gates compare
    # canonically.  Callers that need sorted output sort at the edge.
    return j.select(*keys, "value",
                    (F.col("_pq").cast("double") / mega_f)
                    .alias("p"),
                    (mapped_q.cast("double") / mega_f)
                    .alias("mapped"))
