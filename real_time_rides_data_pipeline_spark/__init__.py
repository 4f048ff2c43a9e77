"""real_time_rides_data_pipeline_spark — a PySpark-native streaming analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference pipeline (``prakashchavali/Real-Time-Rides-Data-Pipeline``,
surveyed in ``SURVEY.md``), re-expressed Spark-first:

- every operator is a pure ``DataFrame -> DataFrame`` function usable under
  both ``spark.read`` (batch) and ``spark.readStream`` (Structured Streaming);
- the medallion pipeline (bronze -> silver -> gold) is a composition of those
  operators plus sinks (``pipeline.py``, ``streaming/``);
- extension operators for large-scale training-data pipelines (dedup,
  similarity search, multimodal columns, text analysis) live in
  ``operators/`` and ``functions/``.

Design rule: declarative plans that Catalyst/AQE can optimize (pushdown,
broadcast, partial agg), no driver-side loops, no row-at-a-time Python in
the hot path.
"""

from real_time_rides_data_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
