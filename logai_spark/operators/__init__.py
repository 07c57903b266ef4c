from logai_spark.operators.features import (
    counter_vector,
    group_loglines,
    sliding_windows,
    session_windows,
    dedup_with_counts,
    feature_vector_mean,
    chrono_split,
    sessionize_by_gap,
    pack_sequences,
)
from logai_spark.operators.joins import asof_join
from logai_spark.operators.enrich import enrich
from logai_spark.operators.evaluate import binary_metrics
from logai_spark.operators.route import (
    compact_sinks,
    read_sink,
    route_to_sinks,
    sink_file_stats,
)
from logai_spark.operators.splits import split_by_span

__all__ = [
    "binary_metrics",
    "split_by_span",
    "counter_vector",
    "group_loglines",
    "sliding_windows",
    "session_windows",
    "dedup_with_counts",
    "feature_vector_mean",
    "chrono_split",
    "sessionize_by_gap",
    "pack_sequences",
    "asof_join",
    "enrich",
    "route_to_sinks",
    "compact_sinks",
    "sink_file_stats",
    "read_sink",
]
