"""Ride and Bronze schemas for the rides pipeline + fixture-table schemas.

Ride schema mirrors the reference's hand-declared Silver parse schema
(``src/02_silver_realtime_rides.py:25-34``); bronze follows
``01_bronze_realtime_rides.py:76``. The Silver schema is whatever
``pipeline.silver_transform`` emits, and the Gold columns are
``ddl.GOLD_DDL_COLUMNS``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- rides pipeline layers ------------------------------------------------

#: 8-field event schema parsed out of the raw JSON value (02:25-34).
RIDE_SCHEMA = T.StructType(
    [
        T.StructField("ride_id", T.StringType(), True),
        T.StructField("driver_id", T.StringType(), True),
        T.StructField("passenger_id", T.StringType(), True),
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("fare", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("event_timestamp", T.TimestampType(), True),
    ]
)

#: Bronze: raw landing zone — Kafka value cast to string + broker timestamp (01:76).
BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("raw_json_data", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

# --- driver fixture tables (/root/testdata/sf*/; FIXTURES.md §B) ----------

#: events — the stream stand-in (ts↔event_timestamp, user_id↔driver_id,
#: value↔fare, event_type↔status, props↔raw JSON payload).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

#: All fixture table names (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
