"""Deduplication operators — streaming stateful dedup + batch twins.

Reference: /root/reference/src/02_silver_realtime_rides.py:84-92 —
``withWatermark("event_timestamp", "10 minutes").dropDuplicates(["ride_id",
"event_timestamp"])`` targeting the producer's 2% duplicate re-emissions
(kafka_rides_producer.py:77-78).

Scale notes: streaming dedup state is keyed per-partition in the
RocksDB state store and bounded by the watermark — the engine REQUIRES a
watermark on stateful streams (unlike the reference's Gold stage, SURVEY.md
§4.3.1). The batch twin ``keep_first_per_key`` is a single hash-shuffle on the
key; prefer it over ``dropDuplicates`` when a deterministic survivor matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stream_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("ride_id", "event_timestamp"),
    event_time_col: str = "event_timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked exactly-once-per-key dedup. On a stream this plans a
    ``Deduplicate`` with state-store backing; on a batch DataFrame the
    watermark is a no-op and this is a plain distinct-on-keys."""
    if df.isStreaming:
        return df.withWatermark(event_time_col, watermark).dropDuplicates(list(keys))
    return df.dropDuplicates(list(keys))


def stream_dedup_within_watermark(
    df: DataFrame,
    keys: tuple[str, ...] = ("ride_id",),
    event_time_col: str = "event_timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Business-key-only dedup with watermark-bounded state
    (``dropDuplicatesWithinWatermark``, Spark 3.5+).

    The reference dedups on (ride_id, event_timestamp)
    (02_silver_realtime_rides.py:91) — a retried/duplicated event whose
    broker timestamp differs by even a millisecond slips through. This
    variant keys state on the business id alone and lets the watermark
    evict it: any duplicate arriving within the delay is dropped regardless
    of its own timestamp, which is exactly the producer-retry shape the 2%
    duplicate injection models (kafka_rides_producer.py:77-78). State cost
    is identical (one entry per key, watermark-bounded). On a batch frame
    this degrades to distinct-on-key (arbitrary survivor).
    """
    if df.isStreaming:
        return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def keep_first_per_key(
    df: DataFrame,
    keys: tuple[str, ...],
    order_by: tuple[str, ...],
    descending: bool = False,
) -> DataFrame:
    """Deterministic dedup: keep the first row per key under a total order.
    ``row_number() OVER (PARTITION BY keys ORDER BY order_by)`` = 1 — the
    idiomatic 'keep latest/earliest record' the reference approximates with
    its Delta MERGE (SURVEY.md §2.5 q_row_number)."""
    ordering = [F.col(c).desc() if descending else F.col(c).asc() for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
