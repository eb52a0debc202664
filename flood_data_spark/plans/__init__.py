from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline, DailyProducts
from flood_data_spark.plans.checks import (
    PipelineCheckError,
    assert_unique_key,
)
from flood_data_spark.plans.scale import (
    bucketed_write,
    salted_join,
    compact_partition,
    join_fanout_report,
    merge_summaries,
    summarize_increment,
    summary_stats,
)

__all__ = [
    "DailyForecastPipeline", "DailyProducts",
    "PipelineCheckError", "assert_unique_key",
    "bucketed_write", "salted_join", "join_fanout_report",
    "summarize_increment", "merge_summaries", "summary_stats",
    "compact_partition",
]
