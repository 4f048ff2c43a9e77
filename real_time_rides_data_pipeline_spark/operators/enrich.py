"""Silver enrichment: boolean fraud flag.

Reference: /root/reference/src/02_silver_realtime_rides.py:99-103 —
``is_suspicious = trip_duration_seconds < 120 AND fare > 300`` (matches the
generator's 10% anomaly injection, kafka_rides_producer.py:64-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_suspicious_flag(
    df: DataFrame,
    duration_col: str = "trip_duration_seconds",
    fare_col: str = "fare",
    out_col: str = "is_suspicious",
    max_duration_s: int = 120,
    min_fare: float = 300.0,
) -> DataFrame:
    return df.withColumn(
        out_col, (F.col(duration_col) < max_duration_s) & (F.col(fare_col) > min_fare)
    )
