"""Sort/limit/top-k and ranking operators.

Reference: verify_gold_layer_data.py:10-12 (ORDER BY … LIMIT 100 — Spark plans
``TakeOrderedAndProject``: per-partition heap + driver merge, never a global
sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n(df: DataFrame, order_by: list) -> DataFrame:
    """Multi-key sort + limit 100 → ``TakeOrderedAndProject`` (no full
    shuffle). ``order_by`` is a list of Columns (already .desc()/.asc())."""
    return df.orderBy(*order_by).limit(100)


def latest_per_key(df: DataFrame) -> DataFrame:
    """Latest event per user: ``row_number() OVER (PARTITION BY user_id
    ORDER BY ts DESC, event_id DESC) = 1``. The deterministic batch twin of
    the streaming keep-latest-state operator (SURVEY.md §2.5 q_row_number /
    §2.9 q_asof_latest). One hash shuffle on the key."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _ranged_runs(
    df: DataFrame, order_cols: list[str], run_total: Column, materialize: bool
) -> DataFrame:
    """The shared TeraSort shape of the global rank/prefix operators: range
    shuffle to ``spark.sql.shuffle.partitions`` sorted runs, tagged with
    ``__pid`` and joined to ``__off``, the sum of ``run_total`` over all
    earlier runs (a broadcast table of |partitions| rows)."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    if materialize:
        part = part.localCheckpoint(eager=True)
    totals = part.groupBy("__pid").agg(run_total.alias("__t"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__off"),
    )
    return part.join(F.broadcast(offsets), "__pid")


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    materialize: bool = True,
) -> DataFrame:
    """Scale-safe GLOBAL row_number over a total order — no single-partition
    sort. TeraSort-style two-phase ranking:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order keys
       (range shuffle: each partition holds a contiguous key range);
    2. materialize the sorted runs once (``localCheckpoint`` — pins the
       partition ids that the offset arithmetic depends on, and the three
       downstream references read the run instead of re-sorting);
    3. per-partition row_number + a broadcast offset = cumulative count of
       all earlier partitions. The offset table is |partitions| rows — its
       tiny cumulative window is the ONLY single-partition sort, over P
       values, not N rows.

    ``order_cols`` must be a total order (include a unique tiebreaker) or
    ranks within equal keys are partition-dependent. ``materialize=False``
    skips the run materialization (three re-sorts instead — only for plan
    inspection in tests; range sampling is deterministic so results agree)."""
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        _ranged_runs(df, order_cols, F.count(F.lit(1)), materialize)
        .withColumn(out_col, F.row_number().over(w_in) + F.col("__off"))
        .drop("__pid", "__off")
    )


def pareto_frontier_2d(
    df: DataFrame, min_col: str, max_col: str
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated on (minimize
    ``min_col``, maximize ``max_col``) — u dominates t iff u is no worse on
    both axes and strictly better on one.

    O(N log N) sweep instead of the O(N²) all-pairs dominance test:

    1. one hash aggregate to the per-``min_col`` best ``max_col`` (output is
       DOMAIN-bounded — e.g. distinct cent prices — not N rows);
    2. a running max over the ``min_col``-ordered staircase: a group is on
       the frontier iff its best strictly beats everything cheaper
       (``prefix max < group max``); the ordered window runs over the
       domain-bounded aggregate, never the fact table;
    3. broadcast the surviving (min_col, max) staircase back over the fact
       scan — rows matching their group's frontier point are the answer
       (ties on both axes are all non-dominated and all kept).

    Comparisons only — no float arithmetic, so the result is engine-exact.
    Property-tested against the brute-force dominance definition."""
    per = df.groupBy(min_col).agg(F.max(max_col).alias("__fb"))
    w = Window.orderBy(min_col).rowsBetween(Window.unboundedPreceding, -1)
    stair = per.withColumn("__best", F.max("__fb").over(w)).filter(
        F.col("__best").isNull() | (F.col("__fb") > F.col("__best"))
    )
    frontier = stair.select(F.col(min_col).alias("__fa"), "__fb")
    return df.join(
        F.broadcast(frontier),
        (F.col(min_col) == F.col("__fa")) & (F.col(max_col) == F.col("__fb")),
    ).drop("__fa", "__fb")


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols: list[str],
    out_col: str = "bucket",
    materialize: bool = True,
) -> DataFrame:
    """Scale-safe global ``ntile(n)``: distributed global rank
    (``global_row_number``) + closed-form bucket arithmetic — bit-identical
    to the SQL-standard NTILE (first ``N mod n`` buckets get one extra row)
    without the single-partition global sort that ``Window.orderBy`` with no
    partition spec plans."""
    ranked = global_row_number(df, order_cols, out_col="__rn", materialize=materialize)
    total = ranked.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    r = F.col("__rn")
    big = F.floor(F.col("__n") / n) + 1  # size of the first (N % n) buckets
    rem = F.col("__n") % n
    cut = rem * big
    bucket = (
        F.when(r <= cut, F.floor((r - 1) / big) + 1)
        .otherwise(rem + F.floor((r - cut - 1) / (big - 1)) + 1)
        .cast("int")
    )
    return (
        ranked.join(F.broadcast(total))
        .withColumn(out_col, bucket)
        .drop("__rn", "__n")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    val_col: str,
) -> DataFrame:
    """Scale-safe GLOBAL inclusive prefix sum ``cum`` over a total order — the
    cumulative-weight primitive behind systematic sampling, CDF
    construction, and pro-rata allocation. Same TeraSort shape as
    ``global_row_number``: range shuffle + in-partition cumulative window
    + broadcast per-partition offsets; the only ordered window runs over
    P partition totals, never N rows. ``order_cols`` must be a total
    order (include a unique tiebreaker) or in-partition cumulative order
    is nondeterministic within equal keys."""
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _ranged_runs(df, order_cols, F.sum(val_col), True)
        .withColumn("cum", F.sum(F.col(val_col)).over(w_in) + F.col("__off"))
        .drop("__pid", "__off")
    )
