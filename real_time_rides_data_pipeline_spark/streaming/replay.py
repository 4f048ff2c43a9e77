"""Bounded stream runs over a file replay (tests, benchmarks, backfills):
start a query, drain every available micro-batch, stop it — plus the
sentinel file that flushes a watermark.
"""

from __future__ import annotations

from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def run_to_completion(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process every available micro-batch synchronously,
    then stop the query (also when a batch fails, whose
    ``StreamingQueryException`` propagates). Returns the stopped query:
    its ``recentProgress`` stays readable after the stop."""
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return query


def append_sentinel_file(
    dst_dir: str,
    schema: T.StructType,
    ts_col: str,
    ts_us: int,
    consts: dict[str, int],
    tag: str,
) -> None:
    """Atomically add a 1-row far-future sentinel parquet to a MONITORED
    stream directory — the watermark-advancing flush used by the
    stream-stream outer join and the streaming session window.

    Two hazards are designed around (first hit in
    queries_ext.q_stream_stream_join_outer, see its docstring):

    - The timestamp is carried as EPOCH MICROS end-to-end: collecting a
      Python datetime would round-trip through the DRIVER's OS timezone
      (``TimestampType.fromInternal`` uses ``fromtimestamp``), so
      re-stamping it UTC on a non-UTC host would shift the sentinel hours
      BEFORE the real max event time and the flush would silently never
      happen.
    - The file is written OUTSIDE the monitored directory and
      ``os.rename``'d in (atomic on the same FS), so the polling file
      source can never list a half-written footer.

    A pyarrow write, not a Spark write: a 1-row createDataFrame→write
    while the streaming query holds the scheduler costs seconds
    (measured ~4.5 s); ``pq.write_table`` is microseconds and the file
    source only cares that a new file appears. Column order follows
    ``schema``; every non-``ts_col`` field takes its int64 value from
    ``consts``.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ntz = isinstance(schema[ts_col].dataType, T.TimestampNTZType)
    pa_ts = pa.timestamp("us") if ntz else pa.timestamp("us", tz="UTC")
    names = [f.name for f in schema.fields]
    pa_schema = pa.schema(
        [(n, pa_ts if n == ts_col else pa.int64()) for n in names]
    )
    tbl = pa.table(
        {
            n: (
                pa.array([ts_us], pa.int64()).cast(pa_ts)
                if n == ts_col
                else pa.array([consts[n]], pa.int64())
            )
            for n in names
        },
        schema=pa_schema,
    )
    parent = os.path.dirname(dst_dir.rstrip("/"))
    staged = os.path.join(parent, f"stage-{tag}-{os.path.basename(dst_dir)}.parquet")
    pq.write_table(tbl, staged)
    os.rename(staged, os.path.join(dst_dir, f"sentinel-{tag}.parquet"))
