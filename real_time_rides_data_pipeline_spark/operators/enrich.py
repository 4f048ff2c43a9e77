"""Silver enrichment: boolean fraud flag.

Reference: /root/reference/src/02_silver_realtime_rides.py:99-103 —
``is_suspicious = trip_duration_seconds < 120 AND fare > 300`` (matches the
generator's 10% anomaly injection, kafka_rides_producer.py:64-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_suspicious_flag(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "is_suspicious", (F.col("trip_duration_seconds") < 120) & (F.col("fare") > 300.0)
    )
