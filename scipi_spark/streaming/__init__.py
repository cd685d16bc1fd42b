from scipi_spark.streaming.pipelines import (
    read_publications_stream,
    run_aggregation_to_memory,
    run_aggregation_upsert,
    session_window_stats,
    sliding_window_counts,
    STREAMING_AGGREGATIONS,
    streaming_dedup,
    tumbling_window_counts,
)

__all__ = [
    "streaming_dedup",
    "read_publications_stream",
    "run_aggregation_to_memory",
    "run_aggregation_upsert",
    "session_window_stats",
    "sliding_window_counts",
    "STREAMING_AGGREGATIONS",
    "tumbling_window_counts",
]
