"""File source: a parquet directory replayed as a micro-batch stream.

Every operator in this engine is a pure ``DataFrame -> DataFrame`` function, so
a parquet directory can drive the same plan either as a batch read or as a
file-based micro-batch stream (``maxFilesPerTrigger`` = replay granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming read of a parquet directory, one (or N) files per micro-batch.

    Structured Streaming file sources require an explicit schema. Writing the
    input as K files and setting ``maxFilesPerTrigger=1`` replays it as K
    micro-batches — the local stand-in for the Kafka topic's partitioned feed.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )
