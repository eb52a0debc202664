#!/usr/bin/env python
"""Benchmark harness: timed entries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[nproc], in one Spark session sized for the box it runs on.

    python bench.py                          # the 180-entry headline set
    python bench.py --only q1 q_crps_x10     # named entries, in isolation
    python bench.py --explain plans/ ...     # + each entry's formatted plan
    python bench.py --profile ...            # + jobs/tasks/shuffle/spill/GC/
                                             #   compiled classes
    python bench.py --stress                 # bench_stress.py's decade tiers
    python bench.py --skew                   # the skew-join variant table

Every entry is built and materialized through the noop sink (timings
include planning + execution) once per pass; an entry records the min over
SPARK_GRAFT_BENCH_PASSES interleaved passes (default 2; 3 for --skew).
SPARK_GRAFT_BENCH_PASSES=0 builds (and with --explain, explains) every
entry without executing it.  stdout carries the JSON payload on one line;
when that line is longer than TAIL_BYTES a compact line follows it, and
either way the last line carries every entry's timing.  A full run also
writes the payload to BENCH_LOCAL.json (--stress: BENCH_STRESS.json), and
BENCH_OUT names the file for any run; --profile counters go to that file
and to stderr, not to stdout.  Generated tiers, shuffle, spill and scratch
live under .bench_scale/ in the checkout (shuffle under SPARK_LOCAL_DIRS
when that is set).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.path.join(REPO, ".bench_scale")


def _src_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet source (file or directory):
    md5 over sorted (name, size, mtime) of the data files, first 8 hex.
    Baked into every .bench_scale cache path so a regenerated fixture
    invalidates the cached 10x tier instead of silently reusing stale
    data (the tier would otherwise stop corresponding to the source)."""
    import hashlib
    entries = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            entries.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    else:
        st = os.stat(path)
        entries.append(f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}")
    return hashlib.md5("|".join(entries).encode()).hexdigest()[:8]


def _evict_stale_tiers(out: str) -> None:
    """Remove cached tiers sharing `out`'s prefix but a different
    fingerprint suffix (the fixture regenerated) — keeps .bench_scale
    bounded at one generation per tier."""
    base = os.path.dirname(out)
    prefix = os.path.basename(out).rsplit("_", 1)[0] + "_"
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        cand = os.path.join(base, name)
        # also matches the pre-fingerprint name (exact prefix, no suffix)
        if ((name.startswith(prefix) or name == prefix[:-1])
                and cand != out and os.path.isdir(cand)):
            import shutil
            shutil.rmtree(cand, ignore_errors=True)

# headline set: the flagship flood aggregation, the window-heavy peak query,
# classic relational shapes, and one of each beyond-reference family.
# Scale-mode twins (LSH embedding dedup, capped jaccard, approx quantiles,
# IVF probe) are benched alongside so regressions in the 100 TB paths are
# visible; the exact O(n²) embedding dedup is NOT here — it is the oracle
# baseline, and its all-pairs wall time dominated (and randomized) the
# headline number while measuring nothing the scale design runs.
# pass-1 ("cold") readings tracked next to the min for the big tiers
# (VERDICT r15 #5): the 12-35 s first-execution JIT/heap tier-up on the
# 60M-row flagship is understood forensics (BASELINE.md); recording
# cold_sec per run makes the drift mechanical — a cold reading > 2x the
# historical cold best flags loudly like any band exit.
COLD_TRACKED = {
    "q_threshold_summary_x100", "q_daily_pipeline_x100",
    "q_threshold_summary_x10", "q_daily_pipeline_x10",
    "q_daily_incremental_x10", "q_crps_x10",
}

BENCH_QUERIES = [
    # round-7: the flagship pair at 10x volume (6M-row ensemble,
    # pre-materialized to parquet once — generation is NOT timed) — the
    # round-over-round comparator for the two plans that matter most.
    # Runs FIRST (right after warmup): measured at the tail of the
    # (then-)34-entry session the same queries read 2.6x slower (16.5 s vs 6.3 s
    # isolated) purely from JVM/GC aging — the tier must measure the
    # plan, not the session's accumulated garbage.  Recorded as MIN-OF-2
    # (see _MIN_OF_2): single shots of the 6M-row tier on this box swing
    # 6-34 s at ~17% CPU utilization (I/O + scheduler noise, measured
    # round 7), exactly the bimodality the skew bench documents; min
    # isolates the plan cost.  The 1x entries stay single-shot cold —
    # that's the daily-batch execution model they represent.
    # round-11: the 60M-row second decade runs FIRST of all (the same
    # JVM-aging mitigation the x10 tier got in round 7 — r10 recorded
    # 19.77 s in-bench vs 5.8 s isolated min-of-2 for this entry, a
    # 3.4× session-position artifact), min-of-2, generation
    # pre-materialized off the clock
    "q_threshold_summary_x100",
    "q_threshold_summary_skew",
    "q_threshold_summary_skew_approx",
    "q_threshold_summary_x10",
    "q_peak_timing_x10",
    # round-11: the FULL E1 pipeline at 10x (detailed + control +
    # tendency/intensity/peak + assembly + geometry + semi-join, one
    # plan) — the end-to-end flagship, not just its hottest stage
    "q_daily_pipeline_x10",
    # round-13: the composed pipeline's second decade (VERDICT r12 #7)
    # and the operational re-issue loop at x10 (VERDICT r12 #2) — both
    # in the heavy front block, min-of-2
    "q_daily_pipeline_x100",
    "q_daily_incremental_x10",
    # round-11: the verification family's scale tier (6M-row CRPS
    # through the cell-partitioned rank window)
    "q_crps_x10",
    "q_crps_decomp_x10",
    # heavy full-volume entries (round-6/7 scale twins: capped jaccard at
    # 3k docs, full-corpus repeated spans, all-user pattern search, the
    # 8-round BPE trainer, the IVF-PQ lifecycle — see each EXTRA_QUERIES
    # docstring) run directly after the x10 pair, BEFORE the 31 small
    # registry entries, for the same JVM/GC-aging reason: measured at the
    # session tail these read ~2x their isolated cost (q_ts_pattern_full
    # 10.9 s vs 5.5 s in back-to-back runs)
    "q_ngram_jaccard_capped_3k",
    "q_repeated_spans_full",
    "q_remove_spans_full",
    "q_ts_pattern_full",
    "q_bigram_ppl_full",
    "q_dedup_exact_x10",
    "q_minhash_lsh_x10",
    "q_line_dedup_x10",
    "q_sessionize_x10",
    "q_bloom_dedup_x10",
    "q_bpe_encode_x10",
    "q_bpe_train_full",
    "q_ivfpq_search",
    "q_cms_build_x10",
    "q_funnel_x10",
    "q_winnow_full",
    "q_jaccard_prefix_zipf",
    "q_threshold_summary",
    "q_peak_timing",
    "q_tendency",
    "q_intensity",
    "q_pricing_summary",
    "q_region_revenue",
    "q_upstream_mask",
    "q_events_daily",
    "q_dedup_exact",
    "q_token_count",
    "q_quality",
    "q_cosine_topk",
    "q_quantized_topk",
    "q_minhash_lsh",
    "q_summary_forecast",
    "q_embedding_dedup_lsh",
    "q_ngram_jaccard",
    "q_point_lookup",
    "q_ngram_jaccard_capped",
    "q_threshold_summary_approx_plain",
    "q_ivf_build",
    "q_ivf_probe",
    "q_bm25_index_build",
    "q_bm25_probe",
    # round-3 curation/corpus-statistics families
    "q_chunk_docs",
    "q_pack_sequences",
    "q_tfidf_topk",
    "q_heavy_tokens",
    "q_contamination",
    "q_clean_lines",
    "q_line_dedup",
    "q_curation_v2",
    "q_dedup_against",
    # round-7 third batch: lexical retrieval + quality rules + importance
    # resampling (registry entries run the FULL corpus at this sf already;
    # the full-corpus bigram entry runs in the heavy front block)
    "q_bm25_topk",
    "q_gopher_rules_full",
    "q_dsir_weights",
    # round-8 session: classifier train+score+evaluate end to end (3 GD
    # aggregates + the bounded score-group metric pass, full corpus)
    "q_clf_eval",
    # round-8 session: weekly decomposition of the daily event series
    "q_seasonal",
    # round-8 continuation: linalg + fuzzy + CMS registry entries (the
    # x10 CMS build runs in the heavy front block)
    "q_power_iteration",
    "q_gram_matrix",
    "q_covariance",
    "q_fuzzy_pairs",
    "q_cms_tokens",
    "q_ewma",
    "q_funnel",
    "q_retention",
    "q_transitions",
    "q_interval_join",
    "q_ohlc",
    "q_twap",
    # round-8 session 4: encoders + stump + ACF + CF + bitext + KMV.
    # q_item_cf (capped-basket self-join, ~12M pairs at sf0.1) and
    # q_bitext_mine (2.5k x 2.5k dense halves) are the two heavy ones —
    # min-of-2 per the heavy-entry discipline.
    "q_item_cf",
    "q_bitext_mine",
    "q_tree_stump",
    "q_acf",
    "q_target_encode",
    "q_kmv_overlap",
    "q_gini",
    "q_snm_pairs",
    "q_impute",
    "q_fd_discovery",
    "q_holt",
    "q_textrank_full",
    "q_tree_stump_approx",
    "q_bootstrap_ci",
    "q_bootstrap_fast",
    "q_unigram_em",
    "q_rolling_median",
    "q_agg_merge",
    "q_psi",
    "q_conformal",
    "q_oof_encode",
    # round-11: forecast verification (CRPS is the heavy one — the
    # cell-partitioned rank window over ~60k members at sf0.1)
    "q_crps",
    "q_spread_skill",
    "q_crps_decomp",
    "q_energy_score",
    "q_grpo_advantage",
    "q_rouge",
    "q_cuped",
    "q_crawl_pipeline_full",
    # round-13: incremental ops, sequential A/B (batch + stream), SEEPS,
    # ratio CI, readability/Zipf corpus QA, FS linkage, attribution, JSD
    "q_daily_incremental",
    "q_msprt",
    "q_msprt_stream",
    "q_seeps",
    "q_ratio_ci",
    "q_wilson",
    "q_spiegelhalter",
    "q_neyman",
    "q_readability",
    "q_zipf",
    "q_fs_linkage",
    "q_attribution",
    "q_jsd",
    # round-13 cont.: hydrological efficiencies (one-exchange shapes)
    # + flood-frequency extremes (rank window / gaps-and-islands)
    "q_nse",
    "q_kge",
    "q_gumbel_return",
    "q_pot_clusters",
    "q_pot_gpd",
    "q_mann_kendall",
    "q_ks_test",
    "q_bleu",
    "q_idw",
    "q_nse_stream",
    "q_doy_climatology",
    "q_muskingum",
    "q_drought_runs",
    "q_baseflow",
    "q_hurst",
    "q_srm",
    "q_winsorized",
    "q_kge_stream",
    "q_chrf",
    "q_error_summary",
    "q_plotting_pos",
    "q_flashiness",
    "q_low_flow",
    "q_std_anomaly",
    "q_ffa_qq",
    "q_persistence",
    "q_gev_return",
    "q_lmoments",
    # round-14: SPI + regional frequency analysis + spatial/multi-
    # category verification + bias correction + UH routing (all
    # one-to-three-exchange shapes; quantile_map is the corpus-sized
    # one — the sim relation moves once through two rank windows and
    # an equi-join against m-bounded order statistics)
    "q_spi",
    "q_regional_growth",
    "q_fss",
    "q_rps",
    "q_quantile_map",
    "q_uh_convolve",
    "q_rps_stream",
    # round-14 session 2: the composed make-then-consume RFA gate and
    # the rating-curve fit (one moment exchange)
    "q_rfa_thresholds",
    "q_rating_curve",
    "q_seasonal_mk",
    "q_fim",
    "q_idf",
    "q_spi_drought",
    "q_regrid",
    # round-14 session 3: changepoint + skill + snow + low-flow freq
    "q_pettitt",
    "q_bss",
    "q_snow",
    "q_low_flow_freq",
    "q_fss_big",
    "q_quantile_map_x10",
    "q_quantile_map_bucketed",
    "q_regrid_big",
    # round-15: FDC/WaterWatch classes + incremental IVF maintenance
    "q_fdc",
    "q_flow_percentile_class",
    "q_ivf_incremental",
    # round-16: polygon-relation serving membership (bucketed bbox
    # candidate join) + HAC Diebold-Mariano (lag windows over the
    # differential series)
    "q_polygon_membership",
    "q_zonal_stats",
    "q_dm_hac",
    # round-16b: geometry suite close-out (exact-integer area + TRUE
    # closed-set cell-box intersects)
    "q_polygon_area",
    "q_polygon_box_intersects",
    "q_zonal_weighted",
    "q_membership_stream",
    "q_polygon_join",
]

_IVF_INDEX = {}
_TEXT_INDEX = {}
_BPE_MERGES = {}


def _q_threshold_summary_approx_plain(spark, sf_dir):
    """Plain sketch-mode threshold summary (the 100 TB path): identical plan
    to q_threshold_summary but percentile_approx instead of the exact sort —
    the driver-contract q_threshold_summary_approx wraps this in a bounds
    -verification join, which is correctness machinery, not the scale path."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.threshold import ensemble_threshold_summary
    forecast = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))
    thresholds = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))
    return ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="approx",
        join_keys=("partkey",), group_keys=("partkey",))


def _q_ivf_build(spark, sf_dir):
    """IVF index build: sample-fit k-means + full-corpus list assignment.
    The lists are persisted (materialized by the noop write) so the probe
    entry below measures pure search, the at-scale steady state."""
    from flood_data_spark.datapipe.similarity import ivf_build
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, lists = ivf_build(emb, nlist=16)
    lists = lists.persist()
    _IVF_INDEX["index"] = (centroids, lists)
    return lists


def _q_ivf_probe(spark, sf_dir):
    """IVF search against the prebuilt index — cost independent of the
    k-means fit (requires q_ivf_build to have run earlier in the list)."""
    from flood_data_spark.datapipe.similarity import ivf_probe
    centroids, lists = _IVF_INDEX["index"]
    queries = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .filter("vec_id < 20"))
    return ivf_probe(centroids, lists, queries, k=5, nprobe=4)


def _q_bm25_index_build(spark, sf_dir):
    """Inverted-index build for BM25 serving: the one corpus scan the
    on-the-fly q_bm25_topk pays per query, amortized to once.  Postings
    persist so the probe entry measures pure query cost."""
    from flood_data_spark.datapipe.text import build_text_index
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings, term_stats, stats = build_text_index(docs)
    postings = postings.persist()
    _TEXT_INDEX["index"] = (postings, term_stats, stats)
    return postings


def _q_bm25_probe(spark, sf_dir):
    """BM25 from the prebuilt index — query-sized work only (requires
    q_bm25_index_build earlier in the list)."""
    from flood_data_spark.datapipe.text import bm25_from_index
    postings, term_stats, stats = _TEXT_INDEX["index"]
    return bm25_from_index(postings, term_stats, stats,
                           ["the", "flood", "data", "model", "river"], k=20)


def _q_ngram_jaccard_capped_3k(spark, sf_dir):
    """Doc-freq-capped n-gram Jaccard over 3,000 documents (vs the
    200-doc registry twin): real shingle volume, real hot-key pressure —
    the uncapped form takes ~48 s here and grows quadratically."""
    from flood_data_spark.datapipe.dedup import ngram_jaccard_pairs
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("doc_id < 3000"))
    return ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=50)


def _q_winnow_full(spark, sf_dir):
    """Winnowing fingerprints over the whole documents table (the
    registry q_winnow bounds itself at 150 docs for the oracle): the
    char-gram explode plus the 2(w-1)-offset self-join measured at full
    corpus volume — linear in total characters, ~10 joined rows per
    character at w=5."""
    from flood_data_spark.datapipe.text import winnow_fingerprints
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=8, w=5)


def _q_jaccard_prefix_zipf(spark, sf_dir):
    """Prefix-filtered word-token Jaccard (t=0.8) on a Zipf-shaped
    8,000-doc corpus: a 20-stopword head present in EVERY document plus
    40 rare hex words, near-dup quintuplets planted.  This is the
    published PPJoin regime — head tokens never enter a prefix, so
    candidates = the 1,600 true pairs, not the head-driven
    8,000²/2 x 20 brute join.  Measured once at entry creation: brute
    `token_jaccard_pairs` 12.1 s / prefix 7.2 s here, with brute
    growing quadratically in corpus size (the head term) and prefix
    near-linearly.  The corpus is generated from range()+md5
    expressions — scan-sized, deterministic, no cached tier needed."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.dedup import jaccard_prefix_pairs
    head = " ".join(f"stop{j}" for j in range(20))
    docs = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(head + " "),
            F.concat_ws(" ", *[
                F.substring(F.md5(F.concat(
                    F.lit(f"z{j}:"),
                    F.when(F.col("id") % 5 == 4, F.col("id") - 1)
                    .otherwise(F.col("id")).cast("string"))), 1, 8)
                for j in range(40)]),
            F.when(F.col("id") % 5 == 4, F.lit(" neardupmarker"))
            .otherwise(F.lit(""))).alias("text"))
    return jaccard_prefix_pairs(docs, threshold=0.8)


def _q_repeated_spans_full(spark, sf_dir):
    """Repeated 8-token-span stats over the whole documents table (the
    registry entry filters to 300 docs for the oracle; this measures the
    full corpus — cost is linear in total tokens)."""
    from flood_data_spark.datapipe.dedup import repeated_span_stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repeated_span_stats(docs, window=8)


def _q_remove_spans_full(spark, sf_dir):
    """Exact substring REMOVAL over the whole documents table (the
    registry entry bounds to 300 docs for the oracle): the find relation
    plus the covered-position anti-join and the id-keyed text reassembly
    — the full distributed-text-surgery cost at corpus volume."""
    from flood_data_spark.datapipe.dedup import remove_repeated_spans
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_repeated_spans(docs, window=8)


def _q_ts_pattern_full(spark, sf_dir):
    """Z-normalized pattern top-k over ALL users' event series (the
    registry entry bounds to 50 users for the oracle; this measures the
    full stream).  Events load through __spark_entry__._t, which owns the
    timestamp normalization — a bare cast("timestamp") would misread a
    TIMESTAMP(NANOS) events table (surfaced as ns-epoch bigint under the
    session's nanosAsLong conf) as SECONDS since epoch."""
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.timeseries import pattern_topk
    ev = entry_mod._t(spark, sf_dir, "events")
    return pattern_topk(ev, [10.0, 20.0, 40.0, 80.0, 40.0, 20.0, 10.0, 5.0],
                        key_col="user_id", order_cols=("ts", "event_id"),
                        value_col="value", k=10)


def _scaled_lineitem_path(spark, sf_dir, factor=10):
    """Materialize (once, cached on disk across rounds) a deterministic
    `factor`x lineitem (10 or 100): each source row replicated with
    perturbed price/discount so group counts, value distributions, and
    percentile buffers all see `factor`x volume; replicas are NEW orders,
    not longer ones (the 100 TB growth mode is more cells).  Kept OUT of
    the timed region — the tier measures the flagship plans, not
    synthetic-data generation (the skew-bench lesson: a
    generation-dominated pair shows no plan signal).  The x100 tier (60M
    rows at sf0.1) proves the flagship's one-broadcast-one-exchange shape
    stays sublinear across TWO decades (x1 → x10 → x100)."""
    from pyspark.sql import functions as F
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    # _p32 suffix: the first recording wrote ONE 82 MB single-row-group
    # file — one scan partition, so the tier's whole map side (6M-row
    # decode + explode + partial agg) serialized onto 1 of 32 cores (the
    # measured ~17% CPU).  32 files = 32 scan tasks, the layout a real
    # ingest would produce.
    fp = _src_fingerprint(f"{sf_dir}/lineitem.parquet")
    out = os.path.join(WORK, f"lineitem_x{factor}_{sf_tag}_p32_{fp}")
    _evict_stale_tiers(out)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        mid = (factor - 1) / 2          # replica offsets centred on 0
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(32)
        (li.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                  F.lit(factor - 1))))
         .withColumn("l_extendedprice",
                     F.col("l_extendedprice")
                     * (1.0 + (F.col("_r") - mid) / (10.0 * factor)))
         .withColumn("l_discount",
                     F.least(F.lit(0.1),
                             F.abs(F.col("l_discount")
                                   + (F.col("_r") - mid) / (100.0 * factor))))
         .withColumn("l_orderkey", F.col("l_orderkey")
                     * (16 if factor == 10 else 128) + F.col("_r"))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _q_threshold_summary_x10(spark, sf_dir):
    """Flagship exceedance + exact 5-number summary on the 6M-row tier:
    same plan as q_threshold_summary (broadcast threshold join + one
    exchange + one sorted value array per group), 10x the ensemble rows."""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.threshold import ensemble_threshold_summary
    forecast = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir)) \
        .select(F.col("l_partkey").alias("partkey"),
                F.col("l_extendedprice").alias("dis24"))
    thresholds = entry_mod._thresholds(spark, sf_dir)
    return ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("partkey",))


def _skewed_forecast(spark, sf_dir):
    """The x10 tier with ONE planted hot cell: 25% of all rows (1.5M at
    sf0.1) remap onto partkey 0 — a ~5000x-average cell, the 'single
    cells carry disproportionate ensembles' hazard PLANS.md:1168 names
    for the flagship's only corpus-sized shuffle.  The remap is one
    map-side `when` over the cached tier, so the pair below measures
    the aggregation plans, not data generation."""
    from pyspark.sql import functions as F
    return (spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
            .select(F.when(F.col("l_orderkey") % 4 == 0, F.lit(0))
                    .otherwise(F.col("l_partkey")).alias("partkey"),
                    F.col("l_extendedprice").alias("dis24")))


def _q_threshold_summary_skew(spark, sf_dir):
    """Flagship exceedance summary on the hot-cell tier, EXACT
    percentiles: the hot cell's every row must reach one reducer (exact
    quantiles need every raw value — salting cannot shrink what the
    final merge must hold), so this entry measures the irreducible
    straggler: the group's one sorted array is built in one task."""
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.threshold import \
        ensemble_threshold_summary
    return ensemble_threshold_summary(
        _skewed_forecast(spark, sf_dir), entry_mod._thresholds(spark, sf_dir),
        accuracy_mode="exact", join_keys=("partkey",),
        group_keys=("partkey",))


def _q_threshold_summary_skew_approx(spark, sf_dir):
    """The same hot-cell tier through the engine's documented skew
    mitigation — accuracy_mode='approx': percentile_approx partials are
    BOUNDED sketches built map-side, so the hot cell's reduce work is
    merging ~32 sketches instead of buffering 1.5M raw values.  The
    skew answer for this shape is the sketch, not salting (salting
    spreads stage-1 but the stage-2 merge of exact buffers still holds
    every row); measured ratio recorded in BASELINE.md/PLANS.md."""
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.threshold import \
        ensemble_threshold_summary
    return ensemble_threshold_summary(
        _skewed_forecast(spark, sf_dir), entry_mod._thresholds(spark, sf_dir),
        accuracy_mode="approx", join_keys=("partkey",),
        group_keys=("partkey",))


def _q_threshold_summary_x100(spark, sf_dir):
    """Flagship exceedance + exact 5-number summary on the 60M-row tier:
    IDENTICAL plan to q_threshold_summary / _x10 (broadcast threshold
    join + ONE exchange + one sorted value array per group), 100x the
    ensemble rows — the second decade of the scaling ladder.  Sublinear
    wall-clock vs the x10 entry is the evidence the shape survives the
    next scale-up: the broadcast side is constant, the exchange carries
    only (partkey) cells, and the map side is embarrassingly parallel
    scan + partial-agg."""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.threshold import ensemble_threshold_summary
    forecast = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir, 100)) \
        .select(F.col("l_partkey").alias("partkey"),
                F.col("l_extendedprice").alias("dis24"))
    thresholds = entry_mod._thresholds(spark, sf_dir)
    return ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("partkey",))


def _q_daily_pipeline_x10(spark, sf_dir):
    """The FULL E1 daily pipeline (plans/daily_pipeline.py) on the
    6M-row tier — detailed exceedance product + the one per-cell
    summary aggregate (control, tendency, intensity, peak) + WKT geometry
    + the summary semi-join back onto detailed, all ONE plan, materialized
    through the restricted detailed product (which consumes every
    upstream stage).  The registry gate (q_summary_forecast) checks E1
    correctness at 1x; this tier shows where exchange pressure lands
    when every stage sees 10x the cells: the detailed cache fill (the
    only corpus-sized exchange — everything downstream reuses its
    (lat,lon)-cell partitioning) and the per-cell summary aggregate over
    the cached relation."""
    from pyspark.sql import functions as F
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    lat = F.round(F.lit(0.025) + (F.col("l_partkey") % 200) * 0.05, 3)
    lon = F.round(F.lit(0.025)
                  + ((F.col("l_partkey") / 200).cast("long") % 200) * 0.05, 3)
    issued = F.lit("2024-01-01").cast("date")
    forecast = li.select(
        lat.alias("latitude"), lon.alias("longitude"),
        F.col("l_linenumber").alias("step"),
        F.col("l_extendedprice").alias("dis24"),
        issued.alias("issued_on"),
        F.date_add(issued, F.col("l_linenumber") - 1).alias("valid_for"))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plat = F.round(F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05, 3)
    plon = F.round(F.lit(0.025)
                   + ((F.col("p_partkey") / 200).cast("long") % 200) * 0.05,
                   3)
    thresholds = part.select(
        plat.alias("latitude"), plon.alias("longitude"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds)
    return products.detailed


def _q_daily_pipeline_x100(spark, sf_dir):
    """The FULL E1 pipeline on the 60M-row second-decade tier — the
    x10 entry's analysis (docs/PLANS.md) extended one more decade, the
    measured-sublinearity claim for the COMPOSED pipeline rather than
    just its hottest stage.  Which exchange saturates first at 100x:
    the detailed cache fill — the one corpus-sized exchange (60M rows
    hash-partitioned by (lat,lon) into the exact summary's sorted-array
    aggregate) — everything downstream (the per-cell summary
    aggregate, geometry, semi-join) reuses its
    40k-cell partitioning, so downstream cost grows with CELLS (40k,
    constant across tiers), not rows.  Same 200x200 grid as x10: 100x
    the members per cell, the growth mode a bigger GloFAS ensemble
    actually has."""
    from pyspark.sql import functions as F
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir, 100))
    lat = F.round(F.lit(0.025) + (F.col("l_partkey") % 200) * 0.05, 3)
    lon = F.round(F.lit(0.025)
                  + ((F.col("l_partkey") / 200).cast("long") % 200) * 0.05,
                  3)
    issued = F.lit("2024-01-01").cast("date")
    forecast = li.select(
        lat.alias("latitude"), lon.alias("longitude"),
        F.col("l_linenumber").alias("step"),
        F.col("l_extendedprice").alias("dis24"),
        issued.alias("issued_on"),
        F.date_add(issued, F.col("l_linenumber") - 1).alias("valid_for"))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plat = F.round(F.lit(0.025) + (F.col("p_partkey") % 200) * 0.05, 3)
    plon = F.round(F.lit(0.025)
                   + ((F.col("p_partkey") / 200).cast("long") % 200) * 0.05,
                   3)
    thresholds = part.select(
        plat.alias("latitude"), plon.alias("longitude"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds)
    return products.detailed


def _q_daily_incremental_x10(spark, sf_dir):
    """The COMPOSED incremental daily operation at the 6M-row tier: the
    registry gate (q_daily_incremental) proves value correctness at 1x;
    this times the operational loop a re-issued day actually costs —
    three per-day flagship runs (~2M rows each) PUBLISHED into a
    date-partitioned store (upsert_partitions dynamic overwrite,
    including the stale-then-reissue d2 swap), then the partition-pruned
    d2 increment folded into the d0+d1 state plus the from-scratch
    recompute over the re-read store.  The writes are inside the timed
    region on purpose: publish cost IS the daily operation.  Scale
    shape: per-day work is day-sized, the merge is cell-state-sized, and
    the increment scan opens only day=d2's files."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from flood_data_spark.operators.threshold import ensemble_threshold_summary
    from flood_data_spark.plans.scale import (merge_summaries,
                                              summarize_increment,
                                              summary_stats)
    from flood_data_spark.sources.parquet import upsert_partitions

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    thresholds = part.select(
        F.col("p_partkey").alias("partkey"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))
    fc = li.select(
        F.concat(F.lit("d"), (F.col("l_linenumber") % 3).cast("string"))
        .alias("day"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))

    def detailed(day_label, scale=1.0):
        f = (fc.filter(F.col("day") == day_label)
             .select("partkey",
                     (F.col("dis24") * F.lit(scale)).alias("dis24")))
        return ensemble_threshold_summary(
            f, thresholds, accuracy_mode="exact",
            join_keys=("partkey",), group_keys=("partkey",)) \
            .withColumn("day", F.lit(day_label))

    # r16: d0/d1 aggregate in ONE pass (group by (day, partkey) over the
    # disjoint day slices — value-identical to two per-day runs) and
    # publish as one upsert, OVERLAPPED with the independent stale-d2
    # publish (guide §2.6; disjoint partitions, per-job staging dirs).
    # The store is scratch under WORK, with the harness's shuffle files.
    base_days = ensemble_threshold_summary(
        fc.filter(F.col("day").isin("d0", "d1")),
        thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("day", "partkey"))

    store = tempfile.mkdtemp(prefix="bench_daily_store_",
                             dir=os.path.join(WORK, "tmp"))
    try:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_base = pool.submit(upsert_partitions, base_days,
                                   store, "day")
            fut_stale = pool.submit(upsert_partitions,
                                    detailed("d2", scale=2.0),
                                    store, "day")
            fut_base.result()
            fut_stale.result()
        base = merge_summaries(
            summarize_increment(spark.read.parquet(store)
                                .filter(F.col("day") == "d0"),
                                ("partkey",), "median_dis"),
            summarize_increment(spark.read.parquet(store)
                                .filter(F.col("day") == "d1"),
                                ("partkey",), "median_dis"),
            ("partkey",))
        upsert_partitions(detailed("d2"), store, "day")
        inc = summarize_increment(
            spark.read.parquet(store).filter(F.col("day") == "d2"),
            ("partkey",), "median_dis")
        merged = summary_stats(merge_summaries(base, inc, ("partkey",)))
        recompute = summary_stats(summarize_increment(
            spark.read.parquet(store), ("partkey",), "median_dis"))
        out = merged.withColumn("path", F.lit("incremental")) \
            .unionByName(recompute.withColumn("path", F.lit("recompute")))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)


def _q_crps_x10(spark, sf_dir):
    """Ensemble CRPS on the 6M-row tier: 10x the cells through the ONE
    cell-partitioned rank window + integer aggregate (the sorted-rank
    identity — pairs never materialize).  The observation derives from
    the order key arithmetically (the scaled tier remaps orderkeys, so
    the 1x gate's orders join would not match); the plan under test is
    identical."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.verification import crps_ensemble

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    src = li.select("l_orderkey", "l_quantity",
                    ((F.col("l_orderkey") % 997) * F.lit(0.1))
                    .alias("obs"))
    return crps_ensemble(src, "l_quantity", "obs", ["l_orderkey"])


def _q_crps_decomp_x10(spark, sf_dir):
    """Hersbach decomposition on the 6M-row tier: the crps_x10 fixture
    through the rank+lead window, the ~1.15x interval explode, and the
    rank-bounded (m, i) exchange — proves the decomposition inherits
    the CRPS tier's flat scaling (output stays Σ_m (m+1) rows however
    many cells arrive)."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.verification import crps_hersbach

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    src = li.select("l_orderkey", "l_quantity",
                    ((F.col("l_orderkey") % 997) * F.lit(0.1))
                    .alias("obs"))
    return crps_hersbach(src, "l_quantity", "obs", ["l_orderkey"])


def _q_crawl_pipeline_full(spark, sf_dir):
    """The crawl E1 at full corpus volume: URL canonicalization + the
    html_to_text regexp ladder + keep-first URL dedup over EVERY
    document at this sf (the gate's 700-doc slice is a correctness
    canary; this measures extraction at volume — scan-dominated, zero
    shuffle until the url_norm group)."""
    from pyspark.sql import functions as F

    from flood_data_spark.datapipe.curation import normalize_url
    from flood_data_spark.datapipe.text import html_to_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("HTTP://Crawl"), (F.col("doc_id") % 350).cast("string"),
        F.lit(".example:80/page?utm_medium=x&v="),
        (F.col("doc_id") % 350).cast("string"), F.lit("#s"))
    html = F.concat(F.lit("<body><p>"), F.col("text"),
                    F.lit("</p></body>"))
    staged = docs.select(
        "doc_id", normalize_url(url).alias("url_norm"),
        F.length(html_to_text(html)).alias("text_len"))
    return (staged.groupBy("url_norm")
            .agg(F.min(F.struct("doc_id", "text_len")).alias("_k"))
            .select("url_norm", "_k.doc_id", "_k.text_len"))


def _q_peak_timing_x10(spark, sf_dir):
    """Flagship peak-timing query on the 6M-row tier: 10x the orders
    (groups), same per-order series length — the one-aggregate plan's
    scaling mode at 100 TB."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.peak_timing import flood_peak_timing
    p2 = F.least(F.lit(1.0), F.col("l_discount") * 12)
    detailed = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir)) \
        .select(F.col("l_orderkey").alias("orderkey"),
                F.col("l_linenumber").alias("step"),
                p2.alias("p_above_2y"),
                F.greatest(F.lit(0.0), p2 - 0.25).alias("p_above_5y"),
                F.greatest(F.lit(0.0), p2 - 0.5).alias("p_above_20y"),
                F.col("l_extendedprice").alias("median_dis"),
                F.to_date("l_shipdate").alias("valid_for"))
    return flood_peak_timing(detailed, key_cols=("orderkey",),
                             carry_cols=(), early_window=(1, 3),
                             black_border_window=(1, 2))


# bench-local callables: same (spark, sf_dir) -> DataFrame contract as
# __spark_entry__.queries() entries
def _q_ivfpq_search(spark, sf_dir):
    """The full IVF-PQ composition, cold: coarse fit + residual PQ fit +
    corpus encode + 20-query probe with exact re-rank — the whole ANN
    index lifecycle in one timed entry (the steady state amortizes the
    build across probe batches; this measures the worst case)."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.similarity import ivfpq_build, ivfpq_probe
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent, books, codes = ivfpq_build(emb, nlist=16, m=8, nbits=8)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivfpq_probe(cent, books, codes, queries, k=5, nprobe=4,
                       rerank_corpus=emb)


def _q_bpe_train_full(spark, sf_dir):
    """8-round BPE training over all documents; returns the final vocab
    (the merge loop executes inside this call — one pair-count job + one
    1-row argmax collect per round — so the timing covers the iteration)."""
    from flood_data_spark.datapipe.bpe import bpe_train
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, vocab = bpe_train(docs, n_merges=8)
    return vocab


def _scaled_documents_path(spark, sf_dir):
    """Materialize (once, cached on disk across rounds) a deterministic
    10x documents table: each doc replicated with a per-replica suffix
    token, so replicas are NEAR-duplicates (exact dedup keeps them apart;
    MinHash bands collide on them — 10x pair pressure, the LSH stress
    mode) and doc_ids stay unique via the same *16+r remap as the
    lineitem tier.  16 output files = 16 scan tasks (the
    single-row-group lesson in SCALE_NOTES).  Generation is NOT timed."""
    from pyspark.sql import functions as F
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fp = _src_fingerprint(f"{sf_dir}/documents.parquet")
    out = os.path.join(WORK, f"documents_x10_{sf_tag}_p16_{fp}")
    _evict_stale_tiers(out)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .repartition(16)
        (docs.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(9))))
         .withColumn("text",
                     F.concat(F.col("text"), F.lit(" replica"),
                              F.col("_r").cast("string")))
         .withColumn("doc_id", F.col("doc_id") * 16 + F.col("_r"))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _q_dedup_exact_x10(spark, sf_dir):
    """Exact dedup (digest groupBy — text never shuffles) on the 50k-doc
    near-duplicate tier: the 100 TB shape of the most common curation
    pass, at 10x the corpus the registry entry sees."""
    from flood_data_spark.datapipe.dedup import exact_dedup
    docs = spark.read.parquet(_scaled_documents_path(spark, sf_dir))
    return exact_dedup(docs)


def _q_minhash_lsh_x10(spark, sf_dir):
    """MinHash+LSH over 3,000 docs of the near-duplicate tier (the
    registry entry sees 200 clean docs): every original's 10 replicas
    collide in every band, so the banded equi-join carries real
    candidate-pair pressure — the LSH scale mode."""
    from flood_data_spark.datapipe.dedup import minhash_lsh_pairs
    docs = (spark.read.parquet(_scaled_documents_path(spark, sf_dir))
            .filter("doc_id < 4800"))             # 300 originals x 16-remap
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8)


def _q_line_dedup_x10(spark, sf_dir):
    """Cross-document line dedup at 10x volume: the explode + first-seen
    window shape with every line appearing ~10x more often (boilerplate
    pressure)."""
    from flood_data_spark.datapipe.curation import dedup_lines
    docs = spark.read.parquet(_scaled_documents_path(spark, sf_dir))
    return dedup_lines(docs)


def _scaled_events_path(spark, sf_dir):
    """Materialize (once) a 10x events table: each event replicated with
    a remapped user_id (user_id * 16 + r) — 10x the session KEYS with
    per-user series lengths unchanged, the "more keys" growth mode the
    lineitem tier uses.  Generation goes through __spark_entry__._t,
    which owns the TIMESTAMP(NANOS) handling (raw reads of this table
    raise PARQUET_TYPE_ILLEGAL on a vanilla session), so the tier is
    written with plain µs timestamps.  16 output files = 16 scan tasks."""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry_mod
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fp = _src_fingerprint(f"{sf_dir}/events.parquet")
    out = os.path.join(WORK, f"events_x10_{sf_tag}_p16_{fp}")
    _evict_stale_tiers(out)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = entry_mod._t(spark, sf_dir, "events").repartition(16)
        (ev.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(9))))
         .withColumn("user_id", F.col("user_id") * 16 + F.col("_r"))
         .withColumn("event_id", F.col("event_id") * 16 + F.col("_r"))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _q_sessionize_x10(spark, sf_dir):
    """Gap sessionization on the 10x events tier: the ordered-window
    session machine at 10x the keys (registry twin q_sessionize runs the
    1x table) — the timeseries family's scale comparator."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.timeseries import sessionize
    ev = spark.read.parquet(_scaled_events_path(spark, sf_dir))
    # µs-timestamp tier reads back TIMESTAMP_NTZ under Spark 4; the
    # session timezone is pinned UTC so the cast is exact (same move as
    # the registry twin's loader)
    if dict(ev.dtypes).get("ts") == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return sessionize(ev, gap_seconds=3600, order_tiebreak="event_id")


def _q_gopher_rules_full(spark, sf_dir):
    """Gopher rule battery over the whole documents table (the registry
    entry bounds to 400 docs for the oracle): one zero-shuffle codegen
    projection — this measures corpus-scan throughput with the full
    regex/higher-order-function battery applied."""
    from flood_data_spark.datapipe.text import with_gopher_rules
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_gopher_rules(docs).drop("text")


def _q_bigram_ppl_full(spark, sf_dir):
    """Interpolated bigram LM scoring of the ENTIRE corpus against an LM
    fit on the same corpus (the registry entry scores the 300-doc oracle
    subset) — both the fit and the scoring join at full volume."""
    from flood_data_spark.datapipe.text import bigram_lm_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_lm_scores(docs)


def _q_bpe_encode_x10(spark, sf_dir):
    """Dictionary-join BPE ENCODE over the 50k-doc near-duplicate tier
    with an 8-rule merges table: the 100 TB tokenization path measured on
    volume — one distinct-word dictionary fold (vocab-bounded), one
    broadcast hash join back to the word explode (BroadcastHashJoin
    asserted in tests/test_bpe.py), one doc-keyed reassembly groupBy.
    The merges table comes from a 500-doc sample and is cached across
    reps (this entry is min-of-2), so the recorded MIN times the pure
    ENCODE plan — the trainer has its own entry (q_bpe_train_full)."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.bpe import bpe_encode_with_dict, bpe_train
    docs = spark.read.parquet(_scaled_documents_path(spark, sf_dir))
    if "merges" not in _BPE_MERGES:
        sample = docs.filter(F.col("doc_id") < 8000)    # 500 originals x16
        _BPE_MERGES["merges"] = bpe_train(sample, n_merges=8)[0]
    return (bpe_encode_with_dict(docs, _BPE_MERGES["merges"],
                                 id_col="doc_id")
            .select("doc_id", F.size("bpe_tokens").alias("n_bpe")))


def _q_bloom_dedup_x10(spark, sf_dir):
    """Bloom crawl-filter at volume: bits built from the 1x documents
    table (the 'published corpus'), probed by the 50k-doc near-duplicate
    tier — 4 broadcast joins, the batch never shuffles (PLANS.md).  The
    replicas are near-dups (suffix-perturbed), so most of the tier is
    genuinely new to the filter; the probe cost is what's measured."""
    from flood_data_spark.datapipe.dedup import bloom_bits, with_bloom_seen
    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = spark.read.parquet(_scaled_documents_path(spark, sf_dir))
    bits = bloom_bits(ref, n_bits=1 << 20, n_hashes=4)
    return (with_bloom_seen(batch, bits, n_bits=1 << 20, n_hashes=4)
            .select("doc_id", "bloom_maybe_seen"))


def _q_cms_build_x10(spark, sf_dir):
    """Count-min sketch build over the 50k-doc near-duplicate tier's full
    token stream: ONE scan, posexplode to depth positions, map-side
    partial aggregation — the exchange carries at most depth*width cells
    per partition however large the corpus (datapipe/sketches.cms_build).
    This is the mergeable running-frequency artifact a 100 TB pipeline
    maintains per batch; the registry twin q_cms_tokens carries the value
    oracle at 1x."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.sketches import cms_build
    docs = spark.read.parquet(_scaled_documents_path(spark, sf_dir))
    toks = (docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                        .alias("token"))
            .filter(F.col("token") != ""))
    return cms_build(toks, key_col="token", width=4096, depth=4)



def _q_funnel_x10(spark, sf_dir):
    """Re-anchoring windowed funnel on the 10x events tier: the k-pass
    range-frame DP (view -> click -> purchase, 1-hour transitions) at
    10x the keys — all three passes plan over ONE key exchange, no
    joins (operators/behavior.funnel; registry twin q_funnel runs the
    unwindowed min-join form on the 1x table)."""
    from pyspark.sql import functions as F
    from flood_data_spark.operators.behavior import funnel
    ev = spark.read.parquet(_scaled_events_path(spark, sf_dir))
    if dict(ev.dtypes).get("ts") == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return funnel(ev, ["view", "click", "purchase"], within_seconds=3600)


def _q_bootstrap_fast(spark, sf_dir):
    """bootstrap_ci on the xxhash64 fast path (portable_hash=False) —
    the production twin of the md5 gate form: same plan shape, JVM-
    native hashing, measured ~3x cheaper.  The md5 entry stays benched
    as the oracle-parity cost."""
    from flood_data_spark.operators.experiment import bootstrap_ci
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bootstrap_ci(ev, "value", "event_id", ("event_type",),
                        n_replicas=32, portable_hash=False)


def _q_tree_stump_approx(spark, sf_dir):
    """best_split in sketch mode — the 100-TB boundary pass
    (percentile_approx, mergeable, no full-sort buffer); the gated
    q_tree_stump keeps exact mode for bit-stable oracle thresholds.
    Measured 3x cheaper on the boundary pass at sf0.1."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.classifier import best_split
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .withColumn("is_return",
                      (F.col("l_returnflag") == "R").cast("int")))
    return best_split(li, ("l_quantity", "l_extendedprice", "l_discount"),
                      "is_return", n_buckets=8, per_feature=True,
                      accuracy_mode="approx")


def _q_textrank_full(spark, sf_dir):
    """TextRank over the FULL documents table at the bench sf (the gate
    query caps at doc_id < 120 for oracle cost; the bench measures the
    per-document graph iteration at corpus volume: 5k docs / ~700k
    adjacency rows at sf0.1, 3 rounds)."""
    from flood_data_spark.datapipe.text import textrank_keywords
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(docs, window=2, n_iter=3, k=5)





def _q_quantile_map_x10(spark, sf_dir):
    """Quantile-mapping bias correction at 10x: the ~850k-row sim
    relation (every 7th order of the replicated lineitem tier) through
    the classic single-window rank and the order-statistic equi-join —
    the registry entry's plan at a corpus-sized sim side.  The caller
    names the rank route: the default classic window here (286k
    rows/group — sorts are task-sized); the bucketed two-pass rank
    (nbuckets=B) pays off only past ~2M rows/group (measured 105 s ->
    30.6 s at 3 groups x 8M rows; docs/PLANS.md).  The sim corpus
    moves ONCE; the obs side stays m-bounded."""
    from pyspark.sql import functions as F

    from flood_data_spark.operators.postprocess import quantile_map

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    sim = (li.filter(F.col("l_orderkey") % 7 == 0)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(1000.0))
                   .alias("flow")))
    obs = (li.filter(F.col("l_linenumber") == 1)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(800.0)
                    + F.lit(3.0)).alias("flow")))
    return quantile_map(sim, obs, "flow", ["flag"])


def _q_quantile_map_bucketed(spark, sf_dir):
    """The BUCKETED two-pass rank named on the same x10 relation
    (nbuckets=32): the route a caller names once groups pass ~2M
    rows, measured here at gate volume so the committed artifact
    carries BOTH routes' cost side by side — at this size the classic
    window wins (the machinery costs ~2 extra corpus passes,
    docs/PLANS.md), at the pathological 3-group × 8M shape the
    bucketed plan wins 3.4× (105 -> 30.6 s).  Exactness is identical
    either way (bucketed==classic pinned in
    tests/test_round15_ops.py)."""
    from pyspark.sql import functions as F

    from flood_data_spark.operators.postprocess import quantile_map

    li = spark.read.parquet(_scaled_lineitem_path(spark, sf_dir))
    sim = (li.filter(F.col("l_orderkey") % 7 == 0)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(1000.0))
                   .alias("flow")))
    obs = (li.filter(F.col("l_linenumber") == 1)
           .select(F.col("l_returnflag").alias("flag"),
                   (F.col("l_extendedprice") / F.lit(800.0)
                    + F.lit(3.0)).alias("flow")))
    return quantile_map(sim, obs, "flow", ["flag"], nbuckets=32)


def _q_regrid_big(spark, sf_dir):
    """Conservative regrid scale tier: a dense synthetic 1000x1000
    0.05-degree grid (1M source cells) onto a misaligned 0.075-degree
    destination — the literal 2x2 candidate scatter + one
    destination-keyed exchange at two decades past the registry
    entry's 2k cells."""
    from pyspark.sql import functions as F

    from flood_data_spark.operators.grid import conservative_regrid

    n = 1000
    g = (spark.range(n * n)
         .select(((F.col("id") % n) * 0.05 + 0.025).alias("lat"),
                 ((F.col("id") / n).cast("long") * 0.05 + 0.025)
                 .alias("lon"),
                 (F.col("id") % 997).cast("double").alias("v")))
    return conservative_regrid(g, "lat", "lon", "v", 0.05, 0.075)


def _q_fss_big(spark, sf_dir):
    """FSS scale tier: 3 groups x 400x400 dense grid (480k cells),
    radius 4 — measures the separable two-pass RANGE-window box sum at
    a grid two decades past the registry entry's 4.8k cells.  Work is
    O(cells) independent of radius by construction; this entry pins
    that the constant is small (the naive r^2-neighbor join would be
    81x the rows at r=4)."""
    from pyspark.sql import functions as F

    from flood_data_spark.operators.verification import fss

    n = 400
    g = (spark.range(3 * n * n)
         .select((F.col("id") % 3).alias("grp"),
                 ((F.col("id") / 3).cast("long") % n).alias("i"),
                 ((F.col("id") / (3 * n)).cast("long") % n).alias("j"),
                 ((F.col("id") * 2654435761) % 13 == 0).cast("int")
                 .alias("fc"),
                 ((F.col("id") * 40503) % 11 == 0).cast("int")
                 .alias("ob")))
    return fss(g, "i", "j", "fc", "ob", ["grp"], radius=4)

EXTRA_QUERIES = {
    "q_fss_big": _q_fss_big,
    "q_quantile_map_x10": _q_quantile_map_x10,
    "q_quantile_map_bucketed": _q_quantile_map_bucketed,
    "q_regrid_big": _q_regrid_big,
    "q_bootstrap_fast": _q_bootstrap_fast,
    "q_tree_stump_approx": _q_tree_stump_approx,
    "q_textrank_full": _q_textrank_full,
    "q_funnel_x10": _q_funnel_x10,
    "q_cms_build_x10": _q_cms_build_x10,
    "q_gopher_rules_full": _q_gopher_rules_full,
    "q_bpe_encode_x10": _q_bpe_encode_x10,
    "q_bloom_dedup_x10": _q_bloom_dedup_x10,
    "q_dedup_exact_x10": _q_dedup_exact_x10,
    "q_minhash_lsh_x10": _q_minhash_lsh_x10,
    "q_line_dedup_x10": _q_line_dedup_x10,
    "q_sessionize_x10": _q_sessionize_x10,
    "q_bigram_ppl_full": _q_bigram_ppl_full,
    "q_threshold_summary_approx_plain": _q_threshold_summary_approx_plain,
    "q_ivf_build": _q_ivf_build,
    "q_ivf_probe": _q_ivf_probe,
    "q_bm25_index_build": _q_bm25_index_build,
    "q_bm25_probe": _q_bm25_probe,
    "q_ngram_jaccard_capped_3k": _q_ngram_jaccard_capped_3k,
    "q_repeated_spans_full": _q_repeated_spans_full,
    "q_remove_spans_full": _q_remove_spans_full,
    "q_ts_pattern_full": _q_ts_pattern_full,
    "q_threshold_summary_x10": _q_threshold_summary_x10,
    "q_threshold_summary_x100": _q_threshold_summary_x100,
    "q_threshold_summary_skew": _q_threshold_summary_skew,
    "q_threshold_summary_skew_approx": _q_threshold_summary_skew_approx,
    "q_peak_timing_x10": _q_peak_timing_x10,
    "q_daily_pipeline_x10": _q_daily_pipeline_x10,
    "q_daily_pipeline_x100": _q_daily_pipeline_x100,
    "q_daily_incremental_x10": _q_daily_incremental_x10,
    "q_crps_x10": _q_crps_x10,
    "q_crps_decomp_x10": _q_crps_decomp_x10,
    "q_crawl_pipeline_full": _q_crawl_pipeline_full,
    "q_bpe_train_full": _q_bpe_train_full,
    "q_ivfpq_search": _q_ivfpq_search,
    "q_winnow_full": _q_winnow_full,
    "q_jaccard_prefix_zipf": _q_jaccard_prefix_zipf,
}


# --skew: plans.scale.salted_join vs a plain shuffle join on a planted-skew
# key, next to AQE's skew-join splitter at default and at data-sized
# thresholds.  Kept out of the headline set: single shots of the pair are
# bimodal near the GC/spill boundary, so it records min and median over
# 3 passes by default.  Shape (calibrated on local[32], 8 GiB heap; see
# docs/SCALE_NOTES.md): a range-generated 30M-row large side with 90% of
# rows on key 0 (a near-free map side, so wall time isolates the
# reduce-side straggler) against 250k small-side keys, broadcast off.
# AQE stays on in every variant; only its skew splitter toggles.  At
# default thresholds the splitter does not fire: the hot partition is
# narrow longs that compress under 256 MB.
SKEW_ROWS, SKEW_KEYS, SKEW_SALT = 30_000_000, 250_000, 16


def _skew_variant(skew_on: bool, tuned: bool, salted: bool = False):
    def build(spark, sf_dir):
        from pyspark.sql import functions as F
        from flood_data_spark.plans.scale import salted_join
        for key, value in (
                ("autoBroadcastJoinThreshold", "-1"),
                ("adaptive.skewJoin.enabled", str(skew_on).lower()),
                ("adaptive.skewJoin.skewedPartitionFactor",
                 "2" if tuned else "5"),
                ("adaptive.skewJoin.skewedPartitionThresholdInBytes",
                 "16m" if tuned else "256m"),
                ("adaptive.advisoryPartitionSizeInBytes",
                 "16m" if tuned else "64m")):
            spark.conf.set("spark.sql." + key, value)
        big = spark.range(SKEW_ROWS).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % SKEW_KEYS).alias("k"),
            (F.col("id") * 3).alias("payload"))
        small = spark.range(SKEW_KEYS).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("tag"))
        if salted:
            return salted_join(big, small, "k", salt_buckets=SKEW_SALT)
        return big.join(small, "k")
    return build


SKEW_QUERIES = {
    "plain": _skew_variant(False, False),
    "aqe_default": _skew_variant(True, False),
    "aqe_tuned": _skew_variant(True, True),
    "salted": _skew_variant(False, False, salted=True),
}

# mode: (payload metric, default artifact, band file, default passes)
MODES = {
    "main": ("headline_queries_total_runtime", "BENCH_LOCAL.json",
             "BENCH_BANDS.json", 2),
    "stress": ("scale_stress_total_runtime", "BENCH_STRESS.json",
               "BENCH_STRESS_BANDS.json", 2),
    "skew": ("skew_join", None, None, 3),
}

# Readers of the run that keep only the tail of stdout clipped payload
# lines of ~3.4-3.5 KB and parsed them as null, so no last line may be
# longer than this.
TAIL_BYTES = 3000

# persisted-index entries: clearing the cache after them would unpersist
# the index their probe entry is documented to reuse, folding the build
# back into the "pure search" probe timing
KEEP_CACHE_AFTER = {"q_ivf_build", "q_bm25_index_build",
                    "q_ivf_build_x10tier", "q_ivf_build_x100tier"}


def resolve(mode: str, names=None) -> dict:
    """name -> fn(spark, sf_dir) -> DataFrame for `names` (default: the
    mode's whole set, in run order).  Main-mode names may be any registry
    query or EXTRA_QUERIES entry."""
    if mode == "stress":
        import bench_stress
        table = bench_stress.STRESS_QUERIES
    elif mode == "skew":
        table = SKEW_QUERIES
    else:
        import __spark_entry__ as entry_mod
        table = {**EXTRA_QUERIES, **entry_mod.queries()}
    names = names or (BENCH_QUERIES if mode == "main" else list(table))
    unknown = [n for n in names if n not in table]
    if unknown:
        raise SystemExit(f"unknown {mode} entries: {', '.join(unknown)}")
    return {n: table[n] for n in names}


def session_posture(mem_bytes: int) -> dict:
    """Spark conf for one harness session on a box with `mem_bytes` of
    physical memory.

    The JVM heap is half the box; the other half is for the Python
    workers, the JVM's off-heap memory and the page cache the tiers are
    read from.  The heap is as large as that allows because one session
    runs every entry: on a 32-core box with an 8g heap the tail entries
    read up to 2.6x slower from accumulated broadcast/cache garbage
    (q_threshold_summary_x10 16.5 s at the tail vs 6.3 s isolated), which
    is why the harness ran at 16g there.  It is not pre-sized, so a small
    run does not hold it.  Shuffle, spill, JVM temp files and the
    warehouse live under WORK in the checkout (shuffle under
    SPARK_LOCAL_DIRS when that is set), never on a tmpfs, which takes its
    pages from the same memory as the heap."""
    return {
        "spark.driver.memory": f"{mem_bytes // 2 >> 20}m",
        "spark.local.dir": (os.environ.get("SPARK_LOCAL_DIRS")
                            or os.path.join(WORK, "spark-local")),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp "
            f"-Dderby.system.home={WORK}"),
    }


def _warm_up(spark) -> None:
    """Untimed warm-up shared by every mode: a long-running cluster has
    these classes loaded and JIT-ed long before any daily batch, so
    first-use class loading and code generation belong to no entry."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import Window, functions as F
    from flood_data_spark.datapipe.bpe import bpe_train
    from flood_data_spark.operators.threshold import (
        ensemble_threshold_summary)
    # JVM + parquet footer + noop sink
    spark.read.parquet(f"{SF_DIR}/region.parquet") \
        .write.format("noop").mode("overwrite").save()
    # ObjectHashAggregate percentile buffers, window exec and broadcast
    # exchange on a 100-row frame (~2-3 s of first use)
    warm = spark.range(100).select(
        (F.col("id") % 10).alias("k"), F.rand(7).alias("v"))
    (warm.join(F.broadcast(spark.range(10).withColumnRenamed("id", "k")), "k")
     .groupBy("k")
     .agg(F.percentile("v", F.array(F.lit(0.25), F.lit(0.5))).alias("p"),
          F.percentile_approx("v", 0.5).alias("pa"),
          F.approx_count_distinct("v").alias("d"))
     .withColumn("rn", F.row_number().over(
         Window.partitionBy(F.lit(1)).orderBy("k")))
     .write.format("noop").mode("overwrite").save())
    # higher-order-function codegen (aggregate folds, transform lambdas)
    # on a 2-row frame: ~15-20 s of class loading and JIT on first use
    bpe_train(spark.createDataFrame([(0, "ab ab"), (1, "cd")],
                                    "doc_id long, text string"),
              n_merges=1)[1].write.format("noop").mode("overwrite").save()
    # the flagship exact summary shape itself, on the x1 lineitem.
    # Spark's codegen cache keys on generated source, so only the
    # identical expression shape pre-JITs the flagship entries' classes
    fc = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_extendedprice").alias("dis24"))
    ensemble_threshold_summary(
        fc, entry_mod._thresholds(spark, SF_DIR), accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("partkey",)
    ).write.format("noop").mode("overwrite").save()


def _tiers(mode: str, spark) -> list:
    """Generate the mode's scaled inputs (once; cached under WORK across
    runs) and return their paths.  Largest last: it must still be in the
    page cache when a pass starts."""
    if mode == "main":
        return [_scaled_documents_path(spark, SF_DIR),
                _scaled_events_path(spark, SF_DIR),
                _scaled_lineitem_path(spark, SF_DIR),
                _scaled_lineitem_path(spark, SF_DIR, 100)]
    if mode == "stress":
        import bench_stress as bs
        return [*bs._patho_paths(spark), bs._documents_x100_path(spark),
                bs._embeddings_x100_path(spark),
                bs._lineitem_x1000_path(spark)]
    return []


def _warm_page_cache(paths) -> None:
    """Read every input file once, outside the timed region, at the start
    of each pass.  On a cold cache the first big-tier entry measures the
    disk, not the plan (x100 flagship: 6.9 / 13.5 / 35.2 s for one plan
    across one afternoon, from cache state alone)."""
    for path in paths:
        for root_dir, _dirs, files in os.walk(path):
            for f in files:
                with open(os.path.join(root_dir, f), "rb") as fh:
                    while fh.read(1 << 24):
                        pass


def _check_bands(path: str, cpus: int, timings: dict, cold: dict) -> list:
    """Append this run's readings to the band history kept for this CPU
    count (bounded at 8) and return the entries reading > 2x their best
    there: the alarm fires at bench time, not a review later.  Pass-1
    readings of the cold-tracked entries are banded as <name>__cold."""
    all_bands = {}
    if os.path.exists(path):
        with open(path) as fh:
            all_bands = json.load(fh)
    bands = all_bands.setdefault(str(cpus), {})
    exits = []
    for key, dt in [*((n + "__cold", v) for n, v in cold.items()),
                    *timings.items()]:
        hist = [v for v in bands.get(key, []) if isinstance(v, (int, float))]
        if hist and dt > 2 * min(hist):
            exits.append(key)
            print(f"# BAND EXIT: {key} {dt:.2f}s > 2x best {min(hist):.2f}s "
                  f"at {cpus} CPUs", file=sys.stderr)
        bands[key] = (hist + [round(dt, 3)])[-8:]
    with open(path, "w") as fh:
        json.dump(all_bands, fh, separators=(",", ":"), sort_keys=True)
        fh.write("\n")
    return exits


def _mode_extras(mode: str, readings: dict, timings: dict,
                 n_passes: int) -> dict:
    """Payload keys only one mode has."""
    if mode == "stress":
        # linear-extrapolation table: base from this run when present,
        # else from the committed BENCH_LOCAL.json; ratio > 2 needs a
        # named cause in BASELINE.md
        import bench_stress
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
            local = json.load(fh)["queries"]
        linear = {}
        for entry, base, factor in bench_stress.LINEAR_BASES:
            base_sec = timings.get(base, local.get(base))
            if entry in timings and base_sec:
                lin = base_sec * factor
                linear[entry] = {
                    "base": base, "base_sec": round(base_sec, 3),
                    "factor": factor, "linear_sec": round(lin, 2),
                    "ratio": round(timings[entry] / lin, 3)}
        return {"linear": linear}
    if mode == "skew":
        out = {n: {"runs": r, "min": min(r),
                   "median": round(statistics.median(r), 3)}
               for n, r in readings.items()}
        for n in ("salted", "aqe_default", "aqe_tuned"):
            if n in timings and "plain" in timings:
                out[f"speedup_{n}_min"] = round(
                    timings["plain"] / timings[n], 2)
        return {**out, "runs": n_passes, "n_rows": SKEW_ROWS,
                "hot_share": 0.9, "salt_buckets": SKEW_SALT}
    return {}


def stdout_lines(p: dict, out_path=None) -> list:
    """The payload as stdout lines; a parser reads the last.  First the
    payload without its per-entry --profile counters.  If that is longer
    than TAIL_BYTES, a compact last line follows: the headline keys, the 20
    slowest entries by name, `sec` (every entry's seconds, in the order of
    the full line's `queries`), `n_entries` and `full` (the file that
    holds the payload)."""
    p = {k: v for k, v in p.items() if k != "profile"}
    lines = [json.dumps(p, separators=(",", ":"))]
    if len(lines[0]) > TAIL_BYTES:
        q = p["queries"]
        compact = {k: v for k, v in p.items() if k != "linear"}
        compact["queries"] = dict(sorted(q.items(),
                                         key=lambda kv: -kv[1])[:20])
        compact.update(sec=list(q.values()), n_entries=len(q),
                       full=out_path and os.path.basename(out_path))
        lines.append(json.dumps(compact, separators=(",", ":")))
    return lines


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="run only these entries, in this order; tiers "
                         "they need are generated at first use if missing")
    ap.add_argument("--explain", metavar="DIR",
                    help="write DIR/<name>.txt, each entry's formatted "
                         "plan, after it is built and before it runs")
    ap.add_argument("--profile", action="store_true",
                    help="record each entry's Spark jobs, tasks, task "
                         "time, shuffle, spill, GC and compiled classes "
                         "(its fastest pass)")
    which = ap.add_mutually_exclusive_group()
    which.add_argument("--stress", action="store_true",
                       help="the decade-above entries of bench_stress.py")
    which.add_argument("--skew", action="store_true",
                       help="the skew-join variant table")
    args = ap.parse_args(argv)
    mode = "stress" if args.stress else "skew" if args.skew else "main"
    metric, out_name, bands_name, default_passes = MODES[mode]
    entries = resolve(mode, args.only)
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES",
                                  default_passes))
    out_path = os.environ.get("BENCH_OUT") or (
        os.path.join(REPO, out_name) if out_name and not args.only else None)

    import __spark_entry__ as entry_mod
    from flood_data_spark.session import get_spark
    from perfbench.spans import NullTracer, Tracer

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")   # Python workers
    conf = session_posture(os.sysconf("SC_PAGE_SIZE")
                           * os.sysconf("SC_PHYS_PAGES"))
    if args.profile:
        # past spark.ui.retainedStages (1000) stages the status store
        # evicts skipped stages first, so deep into a full run an entry's
        # own reused-shuffle stages are gone before the tracer reads them
        # (NoSuchElementException from lastStageAttempt)
        conf["spark.ui.retainedStages"] = str(10**6)
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      extra_conf=conf)
    _warm_up(spark)
    tiers = [] if args.only else _tiers(mode, spark)
    spark._jvm.System.gc()
    tracer = Tracer(spark) if args.profile else NullTracer()
    # classes Janino compiled so far in this JVM (codegen cache misses)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        explain_mode = spark._jvm.org.apache.spark.sql.execution \
            .ExplainMode.fromString("formatted")
    readings: dict = {}     # name -> seconds per pass
    batches: dict = {}
    profile: dict = {}

    def payload(completed: int) -> dict:
        timings = {n: min(r) for n, r in readings.items()}
        sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
        p = {"metric": metric, "value": round(sum(timings.values()), 2),
             "unit": "sec",
             "queries": {k: round(v, 2) for k, v in timings.items()},
             "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
             "passes": n_passes,
             # stream entries: micro-batch count next to the seconds
             "stream_batches": batches,
             # pass-1 readings of the big tiers (warm = the min above)
             "cold_sec": {n: r[0] for n, r in readings.items()
                          if mode == "stress" or n in COLD_TRACKED}}
        if completed < n_passes:
            # a run cut mid-pass still leaves a parseable artifact
            return {**p, "passes_completed": completed}
        # bands track the canonical configuration only (sf0.1, every
        # entry, min of >= 2 passes): a quick run must not pollute the
        # history it is later compared with
        canonical = (bands_name and not args.only and n_passes >= 2
                     and SF_DIR.rstrip("/").endswith("sf0.1"))
        p["band_exits"] = (_check_bands(os.path.join(REPO, bands_name),
                                        cpus, timings, p["cold_sec"])
                           if canonical else [])
        if args.profile:
            p["profile"] = profile
        return {**p, **_mode_extras(mode, readings, timings, n_passes)}

    def emit(p: dict) -> None:
        if out_path:
            with open(out_path, "w") as fh:
                fh.write(json.dumps(p, separators=(",", ":")) + "\n")
        for line in stdout_lines(p, out_path):
            print(line, flush=True)

    for pass_i in range(max(n_passes, 1)):
        _warm_page_cache([SF_DIR, *tiers])
        for name, fn in entries.items():
            entry_mod.STREAM_BATCHES.clear()
            compiled = compiles()
            with tracer.span(name) as span:
                t0 = time.time()
                df = fn(spark, SF_DIR)
                dt = time.time() - t0
                if args.explain and pass_i == 0:
                    with open(os.path.join(args.explain, f"{name}.txt"),
                              "w") as fh:
                        fh.write(df._jdf.queryExecution()
                                 .explainString(explain_mode) + "\n")
                if n_passes:
                    # noop sink, NOT count(): count() lets Catalyst prune
                    # unreferenced projections, so per-row transform
                    # entries would measure only the scan
                    t0 = time.time()
                    df.write.format("noop").mode("overwrite").save()
                    dt += time.time() - t0
            tracer.resolve()
            readings.setdefault(name, []).append(round(dt, 3))
            if entry_mod.STREAM_BATCHES:
                batches[name] = sum(entry_mod.STREAM_BATCHES)
            counters = {k: round(v, 3)
                        for k, v in span.get("counters", {}).items()}
            if args.profile:
                counters["compiles"] = compiles() - compiled
            if counters and min(readings[name]) == readings[name][-1]:
                profile[name] = counters
            print(f"# pass{pass_i + 1} {name}: {dt:.2f}s"
                  + (f" {counters}" if counters else ""), file=sys.stderr)
            # isolate entries: internal caches otherwise accumulate across
            # the session and turn later timings into GC noise; outside
            # the timed region, as is the full GC
            if name not in KEEP_CACHE_AFTER:
                spark.catalog.clearCache()
            spark._jvm.System.gc()
        if n_passes:
            emit(payload(pass_i + 1))


if __name__ == "__main__":
    main()
