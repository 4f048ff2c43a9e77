"""Operator library: every SURVEY.md §2 operator as a pure DataFrame function.

Batch/stream unified — each function works identically on ``spark.read`` and
``spark.readStream`` DataFrames, which is what makes the DuckDB-oracle and
stream≡batch equivalence tests possible (SURVEY.md §4.4).
"""

from real_time_rides_data_pipeline_spark.operators.parse import (
    cast_project,
    parse_json_events,
    drop_malformed,
    expand_struct,
)
from real_time_rides_data_pipeline_spark.operators.clean import (
    with_trip_duration,
    with_trip_distance,
    validity_filter,
)
from real_time_rides_data_pipeline_spark.operators.enrich import with_suspicious_flag
from real_time_rides_data_pipeline_spark.operators.dedup import (
    stream_dedup,
    stream_dedup_within_watermark,
    keep_first_per_key,
)
from real_time_rides_data_pipeline_spark.operators.agg import (
    hourly_driver_agg,
    reaggregate_gold,
)
from real_time_rides_data_pipeline_spark.operators.topk import top_n, latest_per_key

__all__ = [
    "cast_project",
    "parse_json_events",
    "drop_malformed",
    "expand_struct",
    "with_trip_duration",
    "with_trip_distance",
    "validity_filter",
    "with_suspicious_flag",
    "stream_dedup",
    "stream_dedup_within_watermark",
    "keep_first_per_key",
    "hourly_driver_agg",
    "reaggregate_gold",
    "top_n",
    "latest_per_key",
]
