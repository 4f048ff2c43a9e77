"""Aggregation operators — the flagship hourly windowed aggregate + re-aggs.

Reference: /root/reference/src/03_gold_realtime_rides.py:46-67 — groupBy
(1-hour tumbling window on event_timestamp × driver_id) with count / rounded
avg / conditional sum; verification re-agg at verify_gold_layer_data.py:37-41.

Physical shape: partial HashAggregate → Exchange(hash by window,key) → final
HashAggregate. Map-side combine means the shuffle carries one row per
(window × key) per input partition — with bounded key cardinality this is
the cheapest possible shuffle; no salting needed unless a single key×hour
dominates (AQE skew handling covers that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def money_avg_2dp(col_name: str) -> Column:
    """``round(avg(x), 2)`` computed exactly for money-typed (≤2 dp) inputs.

    ``avg`` over doubles is summation-order dependent, and rounding a double
    that sits on the half-cent boundary differs across engines (Spark rounds
    the shortest decimal representation HALF_UP; C-family engines round the
    binary value). Summing exact integer cents, dividing once, and rounding
    once is deterministic and engine-portable: half-cent boundaries are
    exactly representable doubles, rounded away-from-zero by both Spark and
    DuckDB. Aggregation stays JVM-side (partial + final hash agg).
    """
    cents = F.round(F.col(col_name) * 100).cast("long")
    return F.round(F.sum(cents) / F.count(col_name)) / 100.0


def hourly_driver_agg(
    df: DataFrame,
    ts_col: str = "event_timestamp",
    key_col: str = "driver_id",
    id_col: str = "ride_id",
    fare_col: str = "fare",
) -> DataFrame:
    """Flagship: 1-hour tumbling-window grouped aggregate (03:46-67).

    Output columns follow the Gold DDL (03:77-87): window_start, window_end,
    <key>, total_rides_hourly, avg_fare_hourly (2-dp round, 03:53),
    total_suspicious_rides_hourly (count-if over ``is_suspicious``,
    03:54-55). The reference's ``processing_time`` column (03:57) is left
    out: it is non-deterministic and excluded from oracle comparison
    (SURVEY.md §7.4).
    """
    return (
        df.groupBy(F.window(F.col(ts_col), "1 hour"), F.col(key_col))
        .agg(
            F.count(id_col).alias("total_rides_hourly"),
            money_avg_2dp(fare_col).alias("avg_fare_hourly"),
            F.sum(
                F.when(F.col("is_suspicious"), 1).otherwise(0)
            ).alias("total_suspicious_rides_hourly"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col(key_col),
            "total_rides_hourly",
            "avg_fare_hourly",
            "total_suspicious_rides_hourly",
        )
    )


def reaggregate_gold(df: DataFrame, key_col: str = "driver_id") -> DataFrame:
    """Second-level re-aggregation over Gold (verify_gold_layer_data.py:37-41):
    per window_start — distinct keys, total rides, total suspicious, newest
    first. Used as the pipeline-consistency invariant (Σ gold counts = silver
    row count)."""
    return (
        df.groupBy("window_start")
        .agg(
            F.countDistinct(key_col).alias("active_drivers"),
            F.sum("total_rides_hourly").alias("total_rides"),
            F.sum("total_suspicious_rides_hourly").alias("total_suspicious"),
        )
        .orderBy(F.col("window_start").desc())
    )


def ks_two_sample(
    df: DataFrame, value_col: str, side_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic over an integer value
    column, split by a boolean side column. Returns ONE row:
    (n_left, n_right, d_num, d_at) with d_num = max over the pooled
    distinct values v of |cum_left(v)*n_right - cum_right(v)*n_left| —
    the un-normalized integer numerator (divide by n_left*n_right
    off-engine for the classical D), so nothing floats; d_at is the
    smallest value attaining the max (total order).

    Scale: one hash aggregate to per-distinct-value counts (domain-
    bounded), cumulative sums via an ordered window over that staircase
    (single-partition by design — it orders the domain-bounded aggregate,
    never the fact rows), side totals as the full-frame max of the
    nondecreasing cumulative sums (same sort, no scalar join), final
    single-row max. Property-tested against a brute-force ECDF sweep."""
    from pyspark.sql import Window

    v = df.select(
        F.col(value_col).alias("__v"), F.col(side_col).alias("__a")
    )
    g = v.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    # Totals are the FULL-frame max of the nondecreasing cumulative sums —
    # same sort, same (empty) partitioning, so both window frames ride one
    # WindowExec over the domain-bounded staircase: no second scan of the
    # fact rows, no scalar join branch at all.
    wt = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "__v",
        F.sum("ca").over(w).cast("long").alias("cuma"),
        F.sum("cb").over(w).cast("long").alias("cumb"),
    )
    dd = c.select(
        "__v",
        F.max("cuma").over(wt).alias("na"),
        F.max("cumb").over(wt).alias("nb"),
        F.col("cuma"),
        F.col("cumb"),
    ).select(
        "__v",
        "na",
        "nb",
        F.abs(
            F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
        ).alias("dnum"),
    )
    s = dd.agg(
        F.max("na").alias("n_left"),
        F.max("nb").alias("n_right"),
        F.max(
            F.struct(F.col("dnum"), (-F.col("__v")).alias("nv"))
        ).alias("s"),
    )
    return s.select(
        "n_left",
        "n_right",
        F.col("s.dnum").alias("d_num"),
        (-F.col("s.nv")).alias("d_at"),
    )


def sweep_max_concurrency(df: DataFrame) -> DataFrame:
    """Distributed SWEEP LINE: per calendar day, the maximum number of
    concurrently-open half-open intervals [s, e) and the first instant the
    peak is attained (the library form behind ``q_max_concurrency``).

    Scale design: intervals are SPLIT at day boundaries so every
    partition's sweep is self-contained — the trick that turns an
    inherently sequential global prefix sum into independent per-partition
    windows. Precondition (enforced IN the plan, loud failure): an
    interval may cross at most ONE day boundary; longer intervals need a
    generator-based multi-split, which callers with bounded durations
    never pay for. Tie semantics: the cumulative sum orders by
    (t, delta) with ends before starts — the half-open touching rule —
    and the default RANGE frame gives tie groups their settled value, so
    no arbitrary row tiebreak exists (deterministic on any engine).
    """
    sd = F.date_trunc("day", F.col("s"))
    ed = F.date_trunc("day", F.col("e"))
    next_sd = F.expr("timestampadd(DAY, 1, date_trunc('day', s))")
    checked_ed = F.when(ed <= next_sd, ed).otherwise(
        F.raise_error(
            F.lit(
                "sweep_max_concurrency: interval crosses more than one "
                "day boundary; split it upstream"
            )
        ).cast("timestamp")
    )
    iv = df.select(
        "s",
        "e",
        sd.alias("sd"),
        checked_ed.alias("ed"),
    )
    cross = F.col("ed") > F.col("sd")
    p1 = F.struct(
        F.col("sd").alias("day"),
        F.col("s").alias("t0"),
        F.when(cross, F.col("ed")).otherwise(F.col("e")).alias("t1"),
    )
    p2 = F.when(
        cross & (F.col("ed") < F.col("e")),
        F.struct(
            F.col("ed").alias("day"),
            F.col("ed").alias("t0"),
            F.col("e").alias("t1"),
        ),
    )
    pieces = (
        iv.select(F.explode(F.array_compact(F.array(p1, p2))).alias("p"))
        .select("p.day", "p.t0", "p.t1")
        .filter(F.col("t0") < F.col("t1"))
    )
    b = pieces.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("t1").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("bd"),
    ).select("day", "bd.t", "bd.delta")
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy("t", "delta")
    r = b.withColumn("running", F.sum("delta").over(w))
    m = r.withColumn(
        "mx", F.max("running").over(Window.partitionBy("day"))
    ).filter(F.col("running") == F.col("mx"))
    return m.groupBy("day", "mx").agg(
        F.min("t").alias("first_peak_ts")
    ).select(
        "day",
        F.col("mx").cast("long").alias("max_concurrent"),
        "first_peak_ts",
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """EXACT lower weighted median per group with zero float arithmetic
    (the library form behind ``q_weighted_median``): the
    smallest value whose cumulative weight reaches half the group total.
    Values and weights must be integer-typed (callers convert money to
    cents first). Shape: (group, distinct value) compression with summed
    weights — one map-side-combined shuffle; the cumulative window never
    sees raw rows — then a threshold filter + min agg."""
    from pyspark.sql import Window

    w = df.groupBy(
        *group_cols, F.col(value_col).alias("__v")
    ).agg(F.sum(weight_col).alias("__w"))
    part = Window.partitionBy(*group_cols)
    c = w.select(
        *group_cols,
        "__v",
        F.sum("__w").over(part.orderBy("__v")).alias("__cumw"),
        F.sum("__w").over(part).alias("__totw"),
    )
    return (
        c.filter(2 * F.col("__cumw") >= F.col("__totw"))
        .groupBy(*group_cols)
        .agg(
            F.min("__totw").cast("long").alias("total_weight"),
            F.min("__v").cast("long").alias(f"median_{value_col}"),
        )
    )
