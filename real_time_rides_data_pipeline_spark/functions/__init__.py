"""Column-expression libraries: text analysis, vector similarity."""

from real_time_rides_data_pipeline_spark.functions import text, vectors

__all__ = ["text", "vectors"]
