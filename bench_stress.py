"""Scale-stress entries (VERDICT r15 #1): the decade ABOVE the per-round
bench, proving the 100x scale claims with measurements instead of
plan prose.  Run with `python bench.py --stress` (not part of the
per-round bench: the third decade costs ~10-15 min on local[32]); results
are committed as BENCH_STRESS.json with their own band file
(BENCH_STRESS_BANDS.json, same 2x loud-exit rule) and analyzed in
BASELINE.md.

Entries and their linear-extrapolation bases:

  q_threshold_summary_x1000   600M-row flagship (3rd decade)
                              base: BENCH_LOCAL q_threshold_summary_x100 x10
  q_daily_pipeline_x1000      600M-row composed E1 pipeline
                              base: BENCH_LOCAL q_daily_pipeline_x100 x10
  q_minhash_lsh_x10tier /     50k / 500k docs of the SAME crawl-shaped
  q_minhash_lsh_x100tier      tier (scattered true near-dup pairs, not
                              the dense replica clusters of the x10
                              registry tier) — factor 10 within the run
  q_jaccard_prefix_zipf_x10   80k-doc Zipf corpus (10x the main-bench
                              entry's 8k): PPJoin prefix filtering must
                              stay near-linear where brute is quadratic
  q_ivf_build_x10tier /       20k / 200k vector IVF list build — the
  q_ivf_build_x100tier        one full-corpus assignment pass
  q_ivf_probe_x10tier /       probe against the prebuilt lists: grows
  q_ivf_probe_x100tier        with corpus/nlist*nprobe, never corpus²
  q_quantile_map_patho        3 groups x 8M rows (the pathological
                              few-huge-groups shape from docs/PLANS.md,
                              previously prose-only): the caller names
                              the bucketed rank (nbuckets=32; measured
                              105 s classic / ~30 s bucketed at r15)

All tiers are deterministic, generated once OUTSIDE the timed region,
and cached under .bench_scale/stress in the checkout
($SPARK_STRESS_TIER_DIR overrides).  The x1000 lineitem tier is ~5 GB
on disk.
"""
from __future__ import annotations

import os

from bench import SF_DIR, WORK, _src_fingerprint

TIER_ROOT = os.environ.get("SPARK_STRESS_TIER_DIR",
                           os.path.join(WORK, "stress"))


# ---------------------------------------------------------------- tiers


def _lineitem_x1000_path(spark):
    """600M-row 3-column flagship tier (l_partkey, l_linenumber,
    l_extendedprice — all the x1000 entries read): 1000 perturbed
    replicas per sf0.1 lineitem row, 32 files.  ~5 GB on disk;
    generation (~1-2 min) is NOT timed."""
    from pyspark.sql import functions as F
    fp = _src_fingerprint(f"{SF_DIR}/lineitem.parquet")
    out = os.path.join(TIER_ROOT, f"lineitem_x1000_{fp}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
            .select("l_partkey", "l_linenumber", "l_extendedprice") \
            .repartition(32)
        (li.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                  F.lit(999))))
         .withColumn("l_extendedprice",
                     F.col("l_extendedprice")
                     * (1.0 + (F.col("_r") - 499.5) / 10000.0))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _documents_x100_path(spark):
    """500k-doc crawl-shaped tier: 100 variants per sf0.1 document —
    variants 0/1 are TRUE near-dups (the original text + one marker
    token), variants 2..99 are UNIQUE pseudo-texts (24 md5-derived hex
    words keyed by (doc, variant) — zero shared shingles by
    construction) — so dup clusters stay size 2 while the corpus grows
    100x, the real crawl shape.  (A first cut used length-varied
    SUBSTRINGS of the original for variants 2..99; variants of one
    original then shared prefixes and re-created the dense-cluster
    pair bomb this tier exists to avoid — candidates must grow with
    the corpus, not with cluster².)"""
    from pyspark.sql import functions as F
    fp = _src_fingerprint(f"{SF_DIR}/documents.parquet")
    out = os.path.join(TIER_ROOT, f"documents_x100_{fp}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .select("doc_id", "text").repartition(16)
        r = F.col("_r")
        seed = F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                        r.cast("string"), F.lit(":"))
        uniq = F.concat_ws(" ", *[
            F.substring(F.md5(F.concat(seed, F.lit(str(j)))), 1, 8)
            for j in range(24)])
        text = (F.when(r <= 1,
                       F.concat(F.col("text"), F.lit(" nd"),
                                r.cast("string")))
                .otherwise(uniq))
        (docs.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                    F.lit(99))))
         .withColumn("text", text)
         .withColumn("doc_id", F.col("doc_id") * 128 + F.col("_r"))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _embeddings_x100_path(spark):
    """200k-vector tier: 100 deterministic perturbations per sf0.1
    embedding (index-keyed offsets, unit-scale preserved), vec_ids
    remapped unique."""
    from pyspark.sql import functions as F
    fp = _src_fingerprint(f"{SF_DIR}/embeddings.parquet")
    out = os.path.join(TIER_ROOT, f"embeddings_x100_{fp}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .repartition(16)
        r = F.col("_r")
        pert = F.transform(
            "embedding",
            lambda x, i: x + ((F.pmod(r * 31 + i * 7, F.lit(13))
                               - F.lit(6)).cast("float")
                              * F.lit(0.003)))
        (emb.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                   F.lit(99))))
         .withColumn("embedding", pert)
         .withColumn("vec_id", F.col("vec_id") * 128 + F.col("_r"))
         .drop("_r")
         .write.mode("overwrite").parquet(out))
    return out


def _patho_paths(spark):
    """The pathological quantile_map shape: sim = 3 groups x 8M rows
    (24M), obs = 3 groups x 1k — few huge groups, where the classic
    single-window rank serializes into 3 tasks (measured 105 s at r15)
    and the bucketed two-pass rank must engage."""
    from pyspark.sql import functions as F
    out_sim = os.path.join(TIER_ROOT, "qm_patho_sim")
    out_obs = os.path.join(TIER_ROOT, "qm_patho_obs")
    if not os.path.exists(os.path.join(out_sim, "_SUCCESS")):
        (spark.range(24_000_000).select(
            (F.col("id") % 3).alias("grp"),
            (F.pmod(F.xxhash64("id", F.lit("qmp")), F.lit(10_000_000))
             .cast("double") / 1000.0).alias("v"))
         .repartition(32).write.mode("overwrite").parquet(out_sim))
        (spark.range(3000).select(
            (F.col("id") % 3).alias("grp"),
            (F.pmod(F.xxhash64("id", F.lit("qmo")), F.lit(10_000_000))
             .cast("double") / 1000.0).alias("v"))
         .coalesce(1).write.mode("overwrite").parquet(out_obs))
    return out_sim, out_obs


# -------------------------------------------------------------- entries


def _q_threshold_summary_x1000(spark, sf_dir):
    """Flagship 3rd decade: identical plan to the x100 entry
    (broadcast thresholds + ONE exchange + one-buffer percentiles),
    600M ensemble rows."""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry_mod
    from flood_data_spark.operators.threshold import (
        ensemble_threshold_summary)
    forecast = spark.read.parquet(_lineitem_x1000_path(spark)) \
        .select(F.col("l_partkey").alias("partkey"),
                F.col("l_extendedprice").alias("dis24"))
    thresholds = entry_mod._thresholds(spark, sf_dir)
    return ensemble_threshold_summary(
        forecast, thresholds, accuracy_mode="exact",
        join_keys=("partkey",), group_keys=("partkey",))


def _q_daily_pipeline_x1000(spark, sf_dir):
    """The composed E1 pipeline's 3rd decade: 600M rows into the one
    corpus-sized exchange (detailed percentile agg); everything
    downstream stays 40k-cell-sized, so the decade should land near
    scan+exchange-linear."""
    from pyspark.sql import functions as F
    from flood_data_spark.plans.daily_pipeline import (
        DailyForecastPipeline)

    li = spark.read.parquet(_lineitem_x1000_path(spark))
    lat = F.round(F.lit(0.025) + (F.col("l_partkey") % 200) * 0.05, 3)
    lon = F.round(F.lit(0.025)
                  + ((F.col("l_partkey") / 200).cast("long") % 200)
                  * 0.05, 3)
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
                   + ((F.col("p_partkey") / 200).cast("long") % 200)
                   * 0.05, 3)
    thresholds = part.select(
        plat.alias("latitude"), plon.alias("longitude"),
        (F.col("p_retailprice") * 0.8).alias("threshold_2y"),
        F.col("p_retailprice").alias("threshold_5y"),
        (F.col("p_retailprice") * 1.2).alias("threshold_20y"))
    products = DailyForecastPipeline(accuracy_mode="exact").run(
        forecast, thresholds)
    return products.detailed


def _q_minhash_lsh_x10tier(spark, sf_dir):
    """MinHash+LSH over the first 50k docs of the crawl-shaped tier
    (the within-run base for the x100 entry's factor-10 comparison)."""
    from flood_data_spark.datapipe.dedup import minhash_lsh_pairs
    docs = (spark.read.parquet(_documents_x100_path(spark))
            .filter("doc_id % 1280 < 128"))        # 1 in 10 originals
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8)


def _q_minhash_lsh_x100tier(spark, sf_dir):
    """MinHash+LSH over all 500k docs: candidates must grow with true
    collisions (~1 planted pair per original), never corpus²."""
    from flood_data_spark.datapipe.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(_documents_x100_path(spark))
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8)


def _q_jaccard_prefix_zipf_x10(spark, sf_dir):
    """The main bench's PPJoin Zipf corpus at 10x (80k docs): head
    tokens never enter a prefix, so candidates stay the planted pairs
    and cost stays near-linear (brute is quadratic in the head)."""
    from pyspark.sql import functions as F
    from flood_data_spark.datapipe.dedup import jaccard_prefix_pairs
    head = " ".join(f"stop{j}" for j in range(20))
    docs = spark.range(80_000).select(
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


_IVF = {}


def _q_ivf_build_x10tier(spark, sf_dir):
    from flood_data_spark.datapipe.similarity import ivf_build
    emb = (spark.read.parquet(_embeddings_x100_path(spark))
           .filter("vec_id % 1280 < 128"))         # 20k vectors
    centroids, lists = ivf_build(emb, nlist=16)
    lists = lists.persist()
    _IVF["x10"] = (centroids, lists)
    return lists


def _q_ivf_probe_x10tier(spark, sf_dir):
    from flood_data_spark.datapipe.similarity import ivf_probe
    centroids, lists = _IVF["x10"]
    queries = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
               .filter("vec_id < 20"))
    return ivf_probe(centroids, lists, queries, k=5, nprobe=4)


def _q_ivf_build_x100tier(spark, sf_dir):
    from flood_data_spark.datapipe.similarity import ivf_build
    emb = spark.read.parquet(_embeddings_x100_path(spark))
    centroids, lists = ivf_build(emb, nlist=16)
    lists = lists.persist()
    _IVF["x100"] = (centroids, lists)
    return lists


def _q_ivf_probe_x100tier(spark, sf_dir):
    from flood_data_spark.datapipe.similarity import ivf_probe
    centroids, lists = _IVF["x100"]
    queries = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
               .filter("vec_id < 20"))
    return ivf_probe(centroids, lists, queries, k=5, nprobe=4)


def _q_quantile_map_patho(spark, sf_dir):
    """quantile_map on the 3-groups x 8M-rows shape: the caller names
    the bucketed two-pass rank, because the classic window serializes
    into 3 sort tasks (105 s measured at r15)."""
    from flood_data_spark.operators.postprocess import quantile_map
    sim_path, obs_path = _patho_paths(spark)
    sim = spark.read.parquet(sim_path)
    obs = spark.read.parquet(obs_path)
    return quantile_map(sim, obs, "v", ["grp"], nbuckets=32)


STRESS_QUERIES = {
    "q_threshold_summary_x1000": _q_threshold_summary_x1000,
    "q_daily_pipeline_x1000": _q_daily_pipeline_x1000,
    "q_minhash_lsh_x10tier": _q_minhash_lsh_x10tier,
    "q_minhash_lsh_x100tier": _q_minhash_lsh_x100tier,
    "q_jaccard_prefix_zipf_x10": _q_jaccard_prefix_zipf_x10,
    "q_ivf_build_x10tier": _q_ivf_build_x10tier,
    "q_ivf_probe_x10tier": _q_ivf_probe_x10tier,
    "q_ivf_build_x100tier": _q_ivf_build_x100tier,
    "q_ivf_probe_x100tier": _q_ivf_probe_x100tier,
    "q_quantile_map_patho": _q_quantile_map_patho,
}

# (entry, base, factor): base from this run when present, else from the
# committed BENCH_LOCAL.json.  ratio = measured / (base * factor); > 2
# needs a named cause in BASELINE.md.
LINEAR_BASES = [
    ("q_threshold_summary_x1000", "q_threshold_summary_x100", 10),
    ("q_daily_pipeline_x1000", "q_daily_pipeline_x100", 10),
    ("q_minhash_lsh_x100tier", "q_minhash_lsh_x10tier", 10),
    ("q_jaccard_prefix_zipf_x10", "q_jaccard_prefix_zipf", 10),
    ("q_ivf_build_x100tier", "q_ivf_build_x10tier", 10),
    ("q_ivf_probe_x100tier", "q_ivf_probe_x10tier", 10),
]

