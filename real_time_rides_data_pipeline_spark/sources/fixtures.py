"""Readers for the driver-generated parquet fixture tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only if it differs — conf.set is NOT free mid-
    session (it invalidates cached plan state; see load_fixture docstring)."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def load_fixture(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Batch-read one fixture table (``region nation customer supplier part
    orders lineitem events documents embeddings``) as a DataFrame.

    Plain ``spark.read.parquet`` so Catalyst gets full pushdown/pruning into
    the scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a
    nanosecond LongType and is converted here to a microsecond timestamp —
    integer truncation, matching how DuckDB reads the same file.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # Host process may run from any cwd (verify driver); ship the package so
    # module-level Pandas-UDF functions resolve on the Python workers.
    from real_time_rides_data_pipeline_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    # The hosting session may not have been built by our factory (e.g. the
    # verify driver's own session) — ensure the parquet-read confs are right:
    # nanosAsLong (events.ts is TIMESTAMP(NANOS), which the vectorized reader
    # rejects) and inferTimestampNTZ=false (naive parquet timestamps must read
    # as UTC TIMESTAMP — epoch casts on NTZ are rejected by Spark >= 4.1).
    # Check-before-set: an unconditional spark.conf.set per read invalidates
    # session-level plan/scan caches and measurably ~2x-es every query;
    # a get() is a cheap, side-effect-free RPC.
    _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    _ensure_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
