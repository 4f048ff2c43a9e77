"""The medallion pipeline: bronze → silver → gold as pure transforms plus
streaming wiring. Reproduces the reference's three-layer composition
(01/02/03_*_realtime_rides.py) with one programmatic API.

Every ``*_transform`` is a pure DataFrame→DataFrame function — identical
under batch and Structured Streaming (SURVEY.md §4.4). ``run_streaming_*``
wire them to sources/sinks with the state-correctness fixes of SURVEY §4.3:
a watermark is re-declared on every stateful hop (the reference loses it at
the Silver sink boundary and runs Gold with unbounded complete-mode state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from real_time_rides_data_pipeline_spark.operators import (
    drop_malformed,
    expand_struct,
    hourly_driver_agg,
    parse_json_events,
    stream_dedup,
    validity_filter,
    with_suspicious_flag,
    with_trip_distance,
    with_trip_duration,
)
from real_time_rides_data_pipeline_spark.sinks import (
    HAVE_DELTA,
    foreach_batch_merge,
    merge_upsert_delta,
    merge_upsert_parquet,
    stream_append_parquet,
)

#: MERGE key for the Gold table (03_gold:108).
GOLD_KEYS = ("window_start", "window_end", "driver_id")


def silver_transform(bronze_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Bronze rows → typed, cleaned, deduped, enriched rides (02:41-103).

    Order matters for scale: malformed filter and validity predicate run
    BEFORE the stateful dedup so state stores only ever hold valid rows.
    One plan shape for batch and stream: ``expand_struct`` leaves each
    row's JSON parsed once in both, so neither needs a materializing
    barrier.
    """
    parsed = parse_json_events(drop_malformed(bronze_df))
    rides = expand_struct(parsed, "timestamp")
    rides = with_trip_duration(rides)
    rides = with_trip_distance(rides)
    rides = validity_filter(rides)
    rides = stream_dedup(
        rides,
        keys=("ride_id", "event_timestamp"),
        event_time_col="event_timestamp",
        watermark=watermark,
    )
    return with_suspicious_flag(rides)


def gold_transform(
    silver_df: DataFrame, watermark: str | None = "10 minutes"
) -> DataFrame:
    """Silver rides → hourly-per-driver aggregate (03:46-67).

    Unlike the reference, the watermark is re-declared here (SURVEY §4.3.1):
    reading Silver back from storage severs event-time metadata, and an
    unwatermarked streaming aggregate holds state forever.
    """
    src = silver_df
    if watermark is not None and silver_df.isStreaming:
        src = silver_df.withWatermark("event_timestamp", watermark)
    return hourly_driver_agg(src)


def batch_pipeline(bronze_df: DataFrame) -> DataFrame:
    """The whole pipeline as one batch plan (the oracle twin)."""
    return gold_transform(silver_transform(bronze_df))


# --- streaming wiring -------------------------------------------------------


def run_streaming_silver(
    bronze_stream: DataFrame,
    silver_path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
    watermark: str = "10 minutes",
):
    """Bronze stream → Silver parquet append (02:112-118 shape)."""
    silver = silver_transform(bronze_stream, watermark=watermark)
    return (
        stream_append_parquet(silver, silver_path, checkpoint, trigger_seconds)
        .start()
    )


def run_streaming_gold(
    silver_stream: DataFrame,
    gold_path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
    watermark: str = "10 minutes",
):
    """Silver stream → windowed agg → foreachBatch MERGE into Gold
    (03:121-128 shape, bounded-state variant). The Delta MERGE when
    delta-spark is importable, else the parquet emulation; the choice is
    made per call, so a wrapper patched onto ``merge_upsert_parquet`` sees
    every Gold merge."""
    gold = gold_transform(silver_stream, watermark=watermark)
    merge = merge_upsert_delta if HAVE_DELTA else merge_upsert_parquet
    writer = foreach_batch_merge(
        gold,
        checkpoint,
        lambda batch_df, _batch_id: merge(
            batch_df.sparkSession, batch_df, gold_path, GOLD_KEYS
        ),
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
