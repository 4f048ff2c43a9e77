"""Source builders: batch/stream readers for fixtures, Kafka and parquet files."""

from real_time_rides_data_pipeline_spark.sources.fixtures import load_fixture
from real_time_rides_data_pipeline_spark.sources.kafka import kafka_stream
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

__all__ = [
    "load_fixture",
    "kafka_stream",
    "parquet_stream",
]
