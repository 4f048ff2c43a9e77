"""Silver cleaning stage: derived columns + validity predicate.

Reference semantics (cited into /root/reference/src/02_silver_realtime_rides.py):

- ``with_trip_duration`` — 02:67 (timestamp→long cast then subtraction)
- ``with_trip_distance`` — 02:68-70; the reference uses unseeded ``rand()*20``
  which is non-reproducible (SURVEY.md §4.3.2). Engine policy: a hash-derived
  pseudo-distance so replays and oracle checks are deterministic.
- ``validity_filter``    — 02:71-79 (7-term conjunctive predicate)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_trip_duration(
    df: DataFrame,
    start_col: str = "start_time",
    end_col: str = "end_time",
    out_col: str = "trip_duration_seconds",
) -> DataFrame:
    """Epoch-second subtraction: ``CAST(end AS LONG) - CAST(start AS LONG)``."""
    return df.withColumn(
        out_col, F.col(end_col).cast("long") - F.col(start_col).cast("long")
    )


#: Pseudo-distances are whole hundredths of a km in [0, 20).
DISTANCE_BUCKETS = 2000


def pseudo_distance(key: Column) -> Column:
    """Deterministic stand-in for the reference's ``round(rand()*20, 2)``:
    a hash of the row key folded into [0, 20) km, 2-dp rounded. Replayable,
    partition-order independent, and identical across engines that share the
    integer arithmetic (for the oracle we use the plain modular form below).
    """
    return F.round(F.pmod(F.xxhash64(key), F.lit(DISTANCE_BUCKETS)) / 100.0, 2)


#: Knuth's multiplicative-hash constant (2^32 / phi).
KNUTH_MULT = 2654435761


def pseudo_distance_modular(key: Column) -> Column:
    """Oracle-portable variant: plain modular arithmetic on an integer key
    (DuckDB computes the identical value), spread with a Knuth multiplier.

    Reduces the key mod ``DISTANCE_BUCKETS`` BEFORE multiplying — the
    modular identity ``(a*K) mod m = ((a mod m) * (K mod m)) mod m`` keeps
    every intermediate under ``m^2`` so the expression never wraps int64,
    for any key magnitude.
    """
    buckets = DISTANCE_BUCKETS
    return F.round(
        F.pmod(F.pmod(key, F.lit(buckets)) * F.lit(KNUTH_MULT % buckets), F.lit(buckets))
        / 100.0,
        2,
    )


def with_trip_distance(df: DataFrame) -> DataFrame:
    return df.withColumn("trip_distance_km", pseudo_distance(F.col("ride_id")))


def validity_filter(
    df: DataFrame,
    not_null: tuple[str, ...] = ("ride_id", "driver_id", "event_timestamp", "fare"),
    non_negative: tuple[str, ...] = ("fare", "trip_duration_seconds"),
) -> DataFrame:
    """Conjunctive validity predicate (02:71-79): required fields present,
    fare and duration non-negative. One ``Filter`` node — Catalyst pushes the
    parquet-representable conjuncts into the scan."""
    pred = F.lit(True)
    for c in not_null:
        pred = pred & F.col(c).isNotNull()
    for c in non_negative:
        pred = pred & F.col(c).isNotNull() & (F.col(c) >= 0)
    return df.filter(pred)
