"""Distributed count-min sketch built from DataFrame ops.

Same public-primitive design as operators/bloom.py (Spark's internal
``CountMinSketchAggregate`` is a Catalyst expression with no point-query
function in the public SQL registry, so the structure is rebuilt from
seeded ``xxhash64``):

- **Build** (distributed): every value hashes to one bucket per depth row
  (``pmod(xxhash64(v, row), width)``); one map-side-combining hash
  aggregate counts each (row, bucket) cell. The sketch is ≤ depth×width
  rows REGARDLESS of data size, and MERGEABLE across shards/streams by
  cell-wise addition.
- **Probe** (distributed): probe keys re-hash to their depth cells, join
  the (broadcast-sized) sketch, take min(count) per key.

Hard guarantee: estimate ≥ true count, ALWAYS (counts only ever collide
upward). Error: estimate ≤ true + ε·N with ε = 2/width at probability
1 - (1/2)^depth per key (property-tested in tests/test_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 1024


def cms_cells(col: Column, depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH):
    """(row, bucket) cell pairs for a value — ``posexplode`` of the seeded
    hash array; the aliasing to ("row", "bucket") is the caller's."""
    return F.posexplode(
        F.array(
            *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(width)) for i in range(depth)]
        )
    )


def build_cms(
    df: DataFrame,
    col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Aggregate ``df[col]`` occurrences into a sketch DataFrame
    (row, bucket, cnt) — ≤ depth×width rows, broadcastable."""
    return (
        df.select(cms_cells(F.col(col), depth, width).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def estimate_counts(
    probe: DataFrame,
    col: str,
    sketch: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """``probe`` plus an ``est`` column = min over depth rows of the cell
    count (0 if a cell is empty — possible only for keys never inserted).
    The sketch side broadcasts (bounded size by construction)."""
    keep = [F.col(c) for c in probe.columns]
    cells = probe.select(*keep, cms_cells(F.col(col), depth, width).alias("row", "bucket"))
    return (
        cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
