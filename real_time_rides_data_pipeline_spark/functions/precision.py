"""Cross-engine numeric determinism helpers.

Two facts drive everything here (verified empirically, see SURVEY.md §7.4):

1. ``round()`` on a double is NOT portable even for identical doubles: Spark
   rounds the shortest decimal string HALF_UP (``BigDecimal.valueOf``),
   C-family engines (DuckDB) round the binary value — a double whose short
   string is "0.01875" but whose binary value is 0.01874999… rounds to
   0.0188 in Spark and 0.0187 in DuckDB. ``floor`` sees the binary value in
   both engines, so *given identical input doubles* it is exactly portable.

2. Doubles ARE identical across engines when computed by the same sequence
   of IEEE ops from exact inputs — e.g. folding an array left-to-right, or
   dividing two exact integers. Aggregations over shuffled data are NOT
   (summation order differs) — make the sums exact (integer cents) first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def floor_round(col: Column, dp: int) -> Column:
    """Portable truncation to ``dp`` decimals (see module docstring)."""
    scale = 10**dp
    return F.floor(col * scale) / float(scale)


def cents(col: Column) -> Column:
    """Exact integer cents from a ≤2-dp double column."""
    return F.round(col * 100).cast("long")
