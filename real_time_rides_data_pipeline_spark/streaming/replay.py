"""Bounded stream runs over a file replay (tests, benchmarks, backfills):
stage the replay input once per process, open it as a stream with its
own run directory, drain every available micro-batch, stop the query —
plus the sentinel row that flushes a watermark.

A file source reads new files in modification-time order, and files
that share an mtime in directory-listing order, which can change from
run to run. ``stage_batches`` gives every staged file its own mtime, so
a staged directory replays the same micro-batch schedule on every run:
under ``maxFilesPerTrigger=1`` each file is one micro-batch, in frame
order and within a frame in part-file order, and a zero-row file is a
zero-row batch.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from real_time_rides_data_pipeline_spark.scratch import scratch_dir, staged
from real_time_rides_data_pipeline_spark.session import scoped_writer_session
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

#: Seconds between the mtimes of consecutive staged files. Filesystem
#: mtime granularity can be as coarse as 1-2 s, so files written back to
#: back may share a timestamp and list in either order; 4 s apart they
#: cannot.
FRAME_SPACING_S = 4


def stage_batches(
    tag: str, sf_dir: str, frames: Callable[[], list[DataFrame]]
) -> str:
    """Write the DataFrames ``frames()`` returns into one directory, once
    per process per ``(tag, sf_dir)``, and return that directory.

    Each frame is written as it is (its partitions set its file count).
    Every file gets its own mtime, ``FRAME_SPACING_S`` apart: frame *i*'s
    files are older than frame *i+1*'s, and within a frame they go in
    file-name order (the ``part-0000N`` index), so a file stream replays
    the frames in list order and each frame's files in partition order.
    ``frames`` runs only on the first call: later calls return the
    staged path without analysing or writing anything."""

    def write(d: str) -> None:
        files = []
        for df in frames():
            before = set(os.listdir(d))
            df.write.mode("append").parquet(d)
            files += sorted(
                f
                for f in set(os.listdir(d)) - before
                if not f.startswith(("_", "."))
            )
        t0 = time.time() - FRAME_SPACING_S * len(files)
        for i, f in enumerate(files):
            t = t0 + i * FRAME_SPACING_S
            os.utime(os.path.join(d, f), (t, t))

    return staged((tag, sf_dir), write)


def replay_stream(
    spark: SparkSession,
    tag: str,
    sf_dir: str,
    frames: Callable[[], list[DataFrame]],
    schema: T.StructType,
    width: int | None = None,
) -> tuple[DataFrame, str]:
    """The staged replay of ``frames()`` as a stream, one file per
    micro-batch, and a fresh scratch directory for this run's sink and
    checkpoint.

    The input is staged once per process per ``(tag, sf_dir)``
    (``stage_batches``). With ``width``, the stream runs in a
    ``scoped_writer_session`` clone whose stateful shuffle width is
    pinned to it; without, in ``spark`` itself — pass another stream's
    ``sparkSession`` to join or restart in that stream's session."""
    inp = stage_batches(tag, sf_dir, frames)
    session = spark if width is None else scoped_writer_session(spark, width)
    stream = parquet_stream(session, inp, schema, max_files_per_trigger=1)
    return stream, scratch_dir(prefix=f"{tag}_run_")


def sentinel_frame(
    df: DataFrame, ts_col: str, hours: int, consts: dict[str, int]
) -> DataFrame:
    """A 1-row frame in ``df``'s column order whose ``ts_col`` is
    ``max(ts_col) + hours`` and whose other columns are the long
    literals in ``consts`` — the far-future row that advances a
    watermark past every real event so append-mode state flushes.

    The timestamp is computed in Spark and never collected: a Python
    datetime would round-trip through the driver's OS timezone and, on
    a non-UTC host, could land the sentinel before the real events."""
    ts = (F.max(ts_col) + F.expr(f"INTERVAL {hours} HOURS")).alias(ts_col)
    return df.agg(ts).select(
        *[
            F.col(c) if c == ts_col else F.lit(consts[c]).cast("long").alias(c)
            for c in df.columns
        ]
    )


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
