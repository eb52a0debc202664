"""Pipeline QA checks (SURVEY §2.4 A5).

The reference guards its threshold build with runtime count-preservation
asserts around every join (threshold-data-joining.py:84-100) — cheap
invariants that catch the classic silent failures of this engine family:
float-key joins going empty (§1.4), a 1:1 join fanning out, nulls leaking
into key columns.  Same idea here, as reusable check functions that raise
`PipelineCheckError` with the offending counts.

The daily pipeline's checks ride the detailed product's own plan as
`Observation`s, read off the one action that fills its cache, and
`assert_daily_counts` judges the observed counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PipelineCheckError(AssertionError):
    """A pipeline invariant failed."""


def fast_table_count(spark, path: str) -> int:
    """Metadata-only row count of a parquet table: the read happens under
    the DataSource-v2 scan, where `spark.sql.parquet.aggregatePushdown`
    (set by the session factory) pushes COUNT(*) to the footer statistics —
    no row group is ever decoded.  At 100 TB this turns the before/after
    table-level count asserts into pure metadata reads.

    Scoped: the v2 conf is set on a `newSession()` clone (own SQLConf,
    shared SparkContext/executors), so concurrent queries on the caller's
    session keep planning against the v1 scan — mutating and restoring the
    shared conf would briefly flip THEIR plans to v2 too.
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    return s2.read.parquet(path).count()


def assert_unique_key(df: DataFrame, keys, label: str = "table") -> None:
    """The grain claim: at most one row per key (e.g. summary = 1 row/cell)."""
    cols = [keys] if isinstance(keys, str) else list(keys)
    dup = (df.groupBy(*cols).count().filter(F.col("count") > 1).limit(1)
           .collect())
    if dup:
        raise PipelineCheckError(
            f"{label}: duplicate key {tuple(dup[0][c] for c in cols)} "
            f"(x{dup[0]['count']}) violates 1-row-per-{cols} grain")


def assert_daily_counts(counts: dict) -> None:
    """Judge the counts DailyForecastPipeline.run(run_checks=True) observes
    on its forecast scan, threshold side and forecast ⋈ thresholds LEFT
    join: no null key on either side; a non-empty forecast must match at
    least one threshold (the §1.4 tripwire — the LEFT join scores an
    unmatched cell p_above = 0, so key drift is invisible in the output;
    an empty day partition is routine and passes); and the join must keep
    one row per forecast row (a duplicated threshold cell fans out and
    silently skews that cell's p_above_*)."""
    for side in ("forecast", "threshold"):
        n = counts[f"{side}_null_keys"]
        if n:
            raise PipelineCheckError(
                f"{side} input: null in required column(s) "
                f"['latitude', 'longitude'] on {n} row(s)")
    rows, joined = counts["forecast_rows"], counts["join_rows"]
    if rows and not counts["matched_rows"]:
        raise PipelineCheckError(
            f"forecast ⋈ thresholds (key overlap): {rows} forecast rows "
            "matched 0 rows — check key rounding/precision on both join "
            "inputs (SURVEY §1.4)")
    if joined != rows:
        raise PipelineCheckError(
            f"forecast ⋈ thresholds: row count changed {rows} -> {joined} "
            "(fan-out: a threshold cell appears more than once)")
