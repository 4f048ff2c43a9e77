"""OLAP-surface query registry — OVER-clause window functions, grouping
sets, classic TPC-H kernels, scalar-function suites, and skew-handling
demonstrations (SURVEY.md §2.5 extensions + §2.3 scale notes).

Same contract as queries.py. Determinism rules (SURVEY §7.4) applied
throughout: money aggregates in exact integer cents, every ORDER BY has a
unique total order, window frames ordered by (ts, id) tiebreaks, epoch math
in integer microseconds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import staged

# =========================================================================
# OVER-clause window functions (q_rank, q_lag_lead, q_running_sum)
# =========================================================================


@register(
    "q_rank",
    """SELECT event_id, user_id, value,
              rank()       OVER (PARTITION BY user_id ORDER BY value DESC) AS rnk,
              dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS drnk,
              CAST(floor(percent_rank() OVER (PARTITION BY user_id ORDER BY value DESC)
                         * 1000000) / 1000000.0 AS DOUBLE) AS prnk
       FROM events""",
    "rank/dense_rank/percent_rank per key — one window shuffle on user_id, "
    "sort within partition; ties (2-dp values collide) rank identically in "
    "any engine, so the output is deterministic even without a tiebreak.",
)
def q_rank(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        (F.floor(F.percent_rank().over(w) * 1000000) / 1000000.0).alias("prnk"),
    )


@register(
    "q_lag_lead",
    """SELECT event_id, user_id, ts,
              epoch_us(ts) - lag(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
              lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS next_event_id
       FROM events""",
    "lag/lead offsets per key (inter-event gap + next-event pointer) — the "
    "sessionization building block. Integer-microsecond epoch math (exact).",
)
def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "q_running_sum",
    """SELECT event_id, user_id, ts,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
                  AS running_spend,
              row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS event_no
       FROM events""",
    "Cumulative sum per key (running spend) + ordinal — exact-cents prefix "
    "sums so the result is summation-order independent across engines.",
)
def q_running_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents(F.col("value"))).over(w).cast("double") / 100.0).alias(
            "running_spend"
        ),
        F.row_number().over(wn).alias("event_no"),
    )


# =========================================================================
# Grouping sets / rollup (q_agg_rollup, q_grouping_sets)
# =========================================================================


@register(
    "q_agg_rollup",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                  AS sum_qty,
              count(*) AS n
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "ROLLUP hierarchy (flag → flag×status → grand total) — single Expand + "
    "hash agg pass, no re-scan per level.",
)
def q_agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.sum(cents(F.col("l_quantity"))).cast("double") / 100.0).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                  AS gid,
              count(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "Explicit GROUPING SETS with grouping() indicators — disambiguates "
    "source-NULL from subtotal-NULL rows.",
)
def q_grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                      AS gid,
                  count(*) AS n
           FROM lineitem_gs
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
    )


# =========================================================================
# TPC-H kernels (q_tpch_q3, q_tpch_q6)
# =========================================================================


@register(
    "q_tpch_q3",
    """SELECT l_orderkey, o_orderdate,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
                  / 10000.0 AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "TPC-H Q3 shape (shipping priority): selective dim filter → 3-way join "
    "→ agg → top-10. Customer/orders broadcast after filters; revenue in "
    "exact 1e-4 units.",
)
def q_tpch_q3(spark, sf_dir):
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q6",
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
                  / 10000.0 AS revenue,
              count(*) AS n_items
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
    "TPC-H Q6 (forecast revenue): pure scan-filter-aggregate — the pushdown "
    "benchmark; all four predicates reach the parquet reader.",
)
def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = cents(F.col("l_extendedprice")) * cents(F.col("l_discount"))
    return f.agg(
        (F.sum(rev).cast("double") / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# =========================================================================
# Scalar-function suites (q_string_funcs, q_date_funcs)
# =========================================================================


@register(
    "q_string_funcs",
    """SELECT p_partkey,
              upper(p_name) AS name_upper,
              lower(p_brand) AS brand_lower,
              substring(p_name, 1, 4) AS name_prefix,
              length(p_name) AS name_len,
              concat_ws('/', p_brand, p_type) AS brand_type,
              replace(p_name, ' ', '_') AS name_snake,
              lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
              regexp_extract(p_name, '[a-z]+$', 0) AS last_word
       FROM part""",
    "String-function surface: case, substring, length, concat_ws, replace, "
    "lpad, regexp_extract — all JVM codegen, no UDFs.",
)
def q_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.regexp_extract("p_name", "[a-z]+$", 0).alias("last_word"),
    )


@register(
    "q_date_funcs",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INTEGER) AS yr,
              CAST(month(o_orderdate) AS INTEGER) AS mth,
              CAST(day(o_orderdate) AS INTEGER) AS dom,
              CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
              CAST(isodow(o_orderdate) - 1 AS INTEGER) AS weekday_mon0,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
              CAST(last_day(o_orderdate) AS DATE) AS month_end,
              CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month
       FROM orders""",
    "Date-extraction surface: year/month/day/quarter/weekday, month "
    "truncation, last_day, month arithmetic (both engines clamp to "
    "month-end). weekday normalized to Monday=0 on both sides.",
)
def q_date_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekday("o_orderdate").alias("weekday_mon0"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months("o_orderdate", 1).alias("next_month"),
    )


# =========================================================================
# Lateral / explode, subqueries (q_explode_tokens, q_scalar_subquery)
# =========================================================================


@register(
    "q_explode_tokens",
    """SELECT word, count(*) AS n
       FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
             FROM documents)
       GROUP BY word ORDER BY n DESC, word LIMIT 50""",
    "explode(split(text)) → word frequencies → top-50. The map-side explode "
    "fans out |doc|×|tokens| rows but partial aggregation collapses them "
    "before the shuffle (one small exchange of distinct words).",
)
def q_explode_tokens(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents", parallel=True)
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


@register(
    "q_scalar_subquery",
    """SELECT o_orderkey, o_totalprice
       FROM orders
       WHERE o_totalprice > (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                         AS DOUBLE) / count(*) / 100.0
                             FROM orders)""",
    "Scalar-subquery filter (orders above global average price). Spark "
    "plans the aggregate once and broadcasts the scalar; exact-cents avg.",
)
def q_scalar_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    avg_price = (
        F.sum(cents(F.col("o_totalprice"))).cast("double") / F.count(F.lit(1)) / 100.0
    ).alias("avg_price")
    threshold = o.agg(avg_price)
    return (
        o.join(F.broadcast(threshold))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


# =========================================================================
# Histogram / arg-max / array_agg (q_histogram, q_max_by, q_array_agg)
# =========================================================================


@register(
    "q_histogram",
    """SELECT CAST(floor(value / 25) AS BIGINT) AS bucket,
              count(*) AS n,
              min(value) AS lo,
              max(value) AS hi
       FROM events GROUP BY 1""",
    "Fixed-width histogram (25-unit buckets over value) — a single hash agg "
    "on a computed key; the profiling primitive for numeric columns.",
)
def q_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 25).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "q_max_by",
    """SELECT user_id,
              arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
                                + event_id) AS top_event_id,
              max(value) AS top_value,
              arg_min(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
                                + event_id) AS bottom_event_id
       FROM events GROUP BY user_id""",
    "arg-max/arg-min per key (which event had the highest value) — max_by "
    "with a composite exact ordinal (cents ×1e10 + id) so 2-dp value ties "
    "break identically on both engines.",
)
def q_max_by(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ordinal = cents(F.col("value")) * F.lit(10000000000).cast("long") + F.col(
        "event_id"
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ordinal).alias("top_event_id"),
        F.max("value").alias("top_value"),
        F.min_by("event_id", ordinal).alias("bottom_event_id"),
    )


@register(
    "q_array_agg",
    """SELECT user_id,
              to_json(list_sort(list(event_id))) AS event_ids,
              count(*) AS n_events
       FROM (SELECT user_id, event_id FROM events WHERE event_type = 'error')
       GROUP BY user_id""",
    "array_agg per key (error-event id lists) — collect_list + sort_array "
    "for deterministic ordering. The list is serialized to a JSON string in "
    "the compared output (both engines render sorted BIGINT lists as "
    "'[1,2,3]') because the harness canonicalizer cannot sort raw "
    "list-typed columns.",
)
def q_array_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return ev.groupBy("user_id").agg(
        F.to_json(F.sort_array(F.collect_list("event_id"))).alias("event_ids"),
        F.count(F.lit(1)).alias("n_events"),
    )


# =========================================================================
# Skew handling (q_salted_join) — SURVEY §2.3 scale note, demonstrated
# =========================================================================


@register(
    "q_salted_join",
    """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
       FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
    "Skew-resistant salted join: fact keys get a random-free deterministic "
    "salt (event_id % 8), the dim side is exploded ×8, and the join runs on "
    "(key, salt) — no single reducer owns a hot key. Result ≡ the plain "
    "join (the oracle); this (or AQE skew-split) is how a power-law key "
    "distribution avoids a straggler task.",
)
def q_salted_join(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.joins import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    joined = salted_join(
        ev,
        cust,
        fact_key="user_id",
        dim_key="c_custkey",
        n_salts=8,
        salt_src="event_id",
    )
    return joined.select("event_id", "user_id", "c_name", "c_mktsegment")


# =========================================================================
# Sessionization, percentiles, time-range frames, bucket joins
# (q_sessionize, q_percentile_disc, q_window_range_frame,
#  q_ntile_first_last, q_conditional_funcs, q_bucketed_join,
#  q_approx_quantile)
# =========================================================================


@register(
    "q_sessionize",
    """WITH g AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts)
                          - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                          > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
       ), s AS (
         SELECT user_id, ts, event_id, value,
                CAST(sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_no
         FROM g
       )
       SELECT user_id, session_no, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                  AS session_spend
       FROM s GROUP BY user_id, session_no""",
    "Gap-based sessionization (30-min inactivity): lag-gap flag → running "
    "sum = session id → per-session aggregate. The batch twin of "
    "session_window, exact-oracle-checkable. One window shuffle on user_id "
    "is reused by both window steps AND the final agg (same key).",
)
def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess_no = (
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    return (
        ev.select("user_id", "ts", "event_id", "value", sess_no.alias("session_no"))
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias(
                "session_spend"
            ),
        )
    )


@register(
    "q_percentile_disc",
    """WITH r AS (
         SELECT event_type, value, event_id,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY value, event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
         FROM events
       )
       SELECT event_type,
              max(CASE WHEN rn = CAST(ceil(0.5  * n) AS BIGINT) THEN value END) AS p50,
              max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p95,
              max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
              CAST(max(n) AS BIGINT) AS n_rows
       FROM r GROUP BY event_type""",
    "Exact discrete percentiles (nearest-rank) per group via row_number — "
    "no interpolation, so the result is an actual data value and "
    "engine-portable (interpolated quantiles differ at 1-ulp between "
    "engines). percentile_approx (q_approx_quantile) is the one-pass "
    "sketch alternative.",
)
def q_percentile_disc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    rn, n = F.row_number().over(wr), F.count(F.lit(1)).over(wn)
    r = ev.select(
        "event_type",
        "value",
        rn.alias("rn"),
        n.alias("n"),
    )

    def at(q):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("value"))
        )

    return r.groupBy("event_type").agg(
        at(0.5).alias("p50"),
        at(0.95).alias("p95"),
        at(0.99).alias("p99"),
        F.max("n").cast("long").alias("n_rows"),
    )


@register(
    "q_window_range_frame",
    """SELECT event_id, user_id, ts,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / 100.0 AS trailing_1h_spend
       FROM events""",
    "Time-based RANGE frame: per-user trailing-1-hour spend at every event "
    "— the moving-aggregate primitive. Ordered by integer epoch-µs so the "
    "frame bound is exact; equal timestamps are peers in both engines.",
)
def q_window_range_frame(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents(F.col("value"))).over(w).cast("double") / 100.0).alias(
            "trailing_1h_spend"
        ),
    )


@register(
    "q_ntile_first_last",
    """SELECT event_id, user_id,
              ntile(4) OVER (ORDER BY CAST(round(value * 100) AS BIGINT),
                             event_id) AS quartile,
              first_value(event_id) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS first_event,
              last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS last_event,
              nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND UNBOUNDED FOLLOWING) AS second_event
       FROM events""",
    "ntile/first_value/last_value/nth_value. The global ntile(4) runs as a "
    "distributed two-phase rank (range-partitioned sort + broadcast "
    "partition offsets, operators/topk.global_ntile) — NOT the "
    "single-partition sort Window.orderBy with no partition spec plans; "
    "the per-user windows shuffle on user_id as usual.",
)
def q_ntile_first_last(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import global_ntile

    ev = _t(spark, sf_dir, "events").withColumn("__c", cents(F.col("value")))
    tiled = global_ntile(ev, 4, ["__c", "event_id"], out_col="quartile")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w_user.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return tiled.select(
        "event_id",
        "user_id",
        "quartile",
        F.first("event_id").over(w_user).alias("first_event"),
        F.last("event_id").over(w_full).alias("last_event"),
        F.nth_value("event_id", 2).over(w_full).alias("second_event"),
    )


@register(
    "q_conditional_funcs",
    """SELECT l_orderkey, l_linenumber,
              coalesce(nullif(l_returnflag, 'N'), 'X') AS flag_or_x,
              greatest(l_quantity, 25.0) AS qty_at_least_25,
              least(l_extendedprice, 50000.0) AS price_capped,
              CASE WHEN l_discount > 0.05 THEN 'hi'
                   WHEN l_discount > 0.02 THEN 'mid'
                   ELSE 'lo' END AS disc_band
       FROM lineitem""",
    "Conditional scalar surface: coalesce/nullif/greatest/least/CASE — all "
    "whole-stage-codegen, no branches leave the JVM.",
)
def q_conditional_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("X")).alias(
            "flag_or_x"
        ),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_at_least_25"),
        F.least(F.col("l_extendedprice"), F.lit(50000.0)).alias("price_capped"),
        F.when(F.col("l_discount") > 0.05, "hi")
        .when(F.col("l_discount") > 0.02, "mid")
        .otherwise("lo")
        .alias("disc_band"),
    )


def _partitioned_events(spark, sf_dir) -> str:
    """Write events hive-partitioned by event_date once per (session, sf) —
    the lakehouse layout step that buys every date-sliced query its
    partition pruning: a one-day query scans one day's files."""

    def write(path: str) -> None:
        (
            _t(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.partitionBy("event_date")
            .mode("overwrite")
            .parquet(path)
        )

    return staged(("part_events", spark.sparkContext.applicationId, sf_dir), write)


@register(
    "q_partition_pruned_scan",
    """SELECT user_id, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                  AS total_value
       FROM events
       WHERE CAST(ts AS DATE) = DATE '2024-01-10'
       GROUP BY user_id""",
    "Partition pruning on a date-partitioned lakehouse layout: events are "
    "written partitionBy(event_date) (once per session, the ETL step), and "
    "the one-day filter resolves to directory pruning at PLAN time — the "
    "scan touches 1 of 30 partitions, no file of any other day is opened "
    "(tests/test_plans.py pins PartitionFilters). The oracle computes the "
    "same slice from the unpartitioned table.",
)
def q_partition_pruned_scan(spark, sf_dir):
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).filter(
        F.col("event_date") == F.lit("2024-01-10").cast("date")
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("total_value"),
    )


def _bucketed_tables(spark, sf_dir) -> tuple[str, str]:
    """Write lineitem/orders bucketed by order key (8 buckets, sorted) once
    per (session, sf) — the ETL step that buys every later join its
    shuffle-freedom. Returns the two table names."""
    import re

    tag = re.sub(r"[^0-9a-z]", "_", sf_dir.lower()).strip("_")
    li_name, o_name = f"li_bucketed_{tag}", f"o_bucketed_{tag}"

    def write(base: str) -> None:
        for table, name, key in (
            ("lineitem", li_name, "l_orderkey"),
            ("orders", o_name, "o_orderkey"),
        ):
            (
                _t(spark, sf_dir, table)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{base}/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )

    # Catalog tables die with the app, hence the applicationId in the key.
    staged(("bucketed", spark.sparkContext.applicationId, sf_dir), write)
    return li_name, o_name


@register(
    "q_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS total_price
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
    "Co-located join on bucketed tables: both sides bucketed+sorted by the "
    "order key (8 buckets) at write time, so the sort-merge join runs with "
    "ZERO exchanges below it (asserted in tests via .explain) — the "
    "biggest shuffle in the pipeline becomes a map-side merge. Result ≡ "
    "the plain join (the oracle).",
)
def q_bucketed_join(spark, sf_dir):
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li, o = spark.table(li_name), spark.table(o_name)
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100.0).alias(
            "total_price"
        ),
    )


@register(
    "q_approx_quantile",
    """SELECT event_type,
              CAST(floor(quantile_disc(value, 0.5) * 100) AS BIGINT)
                  AS exact_p50_cents,
              TRUE AS sketch_in_band
       FROM events GROUP BY event_type""",
    "percentile_approx(value, [.5,.95,.99]) per event_type — the sketch "
    "that replaces exact percentiles (mergeable, single pass, "
    "bounded memory). GK-sketch outputs are engine-specific, so the "
    "COMPARED columns are the exact discrete median in floor cents "
    "(cross-checked against DuckDB's quantile_disc — both engines pick "
    "the smallest data value with cume_dist >= q, the same total order) "
    "and a Spark-side attestation that all three sketch quantiles landed "
    "inside the [q-0.005, q+0.005] exact-quantile band — far looser than "
    "the rank-error guarantee at accuracy 10000 (eps = 1e-4), so the "
    "boolean is deterministic. Upgrades the old rows-only check to a "
    "value check that pins the sketch's error bound.",
)
def q_approx_quantile(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def disc(q):
        return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)")

    agged = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("approx_pcts"),
        *[
            disc(q).alias(f"{tag}_{name}")
            for name, mid in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
            for tag, q in (("lo", mid - 0.005), ("hi", min(mid + 0.005, 1.0)))
        ],
        disc(0.5).alias("exact_p50"),
    )
    in_band = F.lit(True)
    for i, name in enumerate(("p50", "p95", "p99")):
        a = F.col("approx_pcts")[i]
        in_band = (
            in_band
            & (a >= F.col(f"lo_{name}"))
            & (a <= F.col(f"hi_{name}"))
        )
    return agged.select(
        "event_type",
        F.floor(F.col("exact_p50") * 100).cast("long").alias("exact_p50_cents"),
        in_band.alias("sketch_in_band"),
    )


# =========================================================================
# More TPC-H kernels + deterministic sampling (q_tpch_q4, q_tpch_q14,
# q_hash_sample)
# =========================================================================


@register(
    "q_tpch_q4",
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority""",
    "TPC-H Q4 shape (order priority checking): date-filtered orders semi-"
    "joined to lineitems shipped after order date, counted per priority — "
    "EXISTS plans as a left-semi hash join, never materializing matches.",
)
def q_tpch_q4(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q_tpch_q14",
    """SELECT CAST(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   ELSE 0 END) AS DOUBLE)
              / sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS promo_revenue_pct,
              count(*) AS n_items
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""",
    "TPC-H Q14 shape (promotion effect): month-sliced lineitem joined to "
    "part (broadcast), conditional revenue share — exact integer revenue "
    "units so the ratio divides two identical BIGINTs on both engines.",
)
def q_tpch_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * F.sum(promo) / F.sum(rev)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_hash_sample",
    """SELECT doc_id, lang,
              CASE WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 90
                   THEN 'train' ELSE 'eval' END AS split
       FROM documents
       WHERE ((doc_id % 10) * (2654435761 % 10)) % 10 <> 3""",
    "Deterministic hash split/sampling for training corpora: a Knuth-"
    "multiplier modular hash assigns 90/10 train/eval AND drops a fixed 10% "
    "holdout — replayable on any engine, no RNG, no shuffle (pure map). Key "
    "reduced mod m before the multiply ((a*K) mod m = ((a mod m)(K mod m)) "
    "mod m) so intermediates never wrap int64 at any doc_id magnitude, "
    "and train/eval membership stays stable across reruns and backfills.",
)
def q_hash_sample(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.clean import KNUTH_MULT

    d = _t(spark, sf_dir, "documents")
    h = F.pmod(F.pmod(F.col("doc_id"), 100) * F.lit(KNUTH_MULT % 100), F.lit(100))
    keep = (
        F.pmod(F.pmod(F.col("doc_id"), 10) * F.lit(KNUTH_MULT % 10), F.lit(10)) != 3
    )
    return d.filter(keep).select(
        "doc_id",
        "lang",
        F.when(h < 90, "train").otherwise("eval").alias("split"),
    )


# =========================================================================
# Relational reshaping + semi-structured surface (q_unpivot, q_map_funcs,
# q_array_funcs, q_resize_meta)
# =========================================================================


@register(
    "q_unpivot",
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
       FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""",
    "unpivot/melt: wide metric columns → long (key, metric, value) rows — "
    "the inverse of q_pivot. Spark plans one Expand (single scan, no "
    "self-union); the 3× row fan-out happens map-side.",
)
def q_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_tax", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "q_map_funcs",
    """SELECT event_id,
              to_json(['type', 'uid']) AS map_keys_json,
              event_type AS type_val,
              CAST(2 AS INTEGER) AS n_entries,
              CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
       FROM events""",
    "MapType surface: create_map from columns (map_keys/element_at/size) + "
    "from_json into map<string,int> for schema-less JSON — the two ways "
    "key-value props travel through the engine. The keys list is serialized "
    "to JSON in the compared output (harness canonicalizer cannot sort raw "
    "list columns).",
)
def q_map_funcs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    pm = F.from_json(F.col("props"), "map<string,int>")
    return ev.select(
        "event_id",
        F.to_json(F.map_keys(m)).alias("map_keys_json"),
        F.element_at(m, "type").alias("type_val"),
        F.size(m).alias("n_entries"),
        F.element_at(pm, "k").alias("prop_k"),
    )


@register(
    "q_array_funcs",
    """SELECT l_orderkey, l_linenumber,
              to_json(list_sort(vals)) AS sorted_vals,
              list_aggregate(vals, 'max') AS max_val,
              vals[1] AS first_val,
              to_json(vals[1:2]) AS first_two,
              CAST(3 AS INTEGER) AS n_vals
       FROM (SELECT l_orderkey, l_linenumber,
                    [CAST(round(l_quantity) AS BIGINT),
                     CAST(round(l_tax * 100) AS BIGINT),
                     CAST(round(l_discount * 100) AS BIGINT)] AS vals
             FROM lineitem)""",
    "ArrayType surface: array construction, array_sort, array_max, "
    "element_at, slice, size — all JVM array lambdas; 1-indexed semantics "
    "match across engines. Elements are exact integer units (qty, tax-bp, "
    "discount-bp) and list outputs are JSON-serialized so the harness "
    "canonicalizer (which cannot sort raw list columns) hash-compares them.",
)
def q_array_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    arr = F.array(
        F.round(F.col("l_quantity")).cast("long"),
        F.round(F.col("l_tax") * 100).cast("long"),
        F.round(F.col("l_discount") * 100).cast("long"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.to_json(F.array_sort(arr)).alias("sorted_vals"),
        F.array_max(arr).alias("max_val"),
        F.element_at(arr, 1).alias("first_val"),
        F.to_json(F.slice(arr, 1, 2)).alias("first_two"),
        F.size(arr).alias("n_vals"),
    )


@register(
    "q_resize_meta",
    """SELECT doc_id,
              least((octet_length(encode(text))
                     + greatest(octet_length(encode(text)) // 1024, 1) - 1)
                    // greatest(octet_length(encode(text)) // 1024, 1),
                    1024) AS resized_len
       FROM documents""",
    "Image-resize plumbing (mapInPandas 1→1, fixed 32×32 byte budget): the "
    "oracle reproduces the deterministic byte-sampling arithmetic — on "
    "UTF-8 byte length (octet_length(encode(...)), corpus-independent) — "
    "proving the Arrow batch path end-to-end; a real decoder swaps in "
    "without touching the Spark plan.",
)
def q_resize_meta(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import multimodal as MM

    d = MM.with_binary_payload(_t(spark, sf_dir, "documents", parallel=True))
    return MM.resize_images(d, 32, 32).select("doc_id", "resized_len")


# =========================================================================
# As-of join + range join (q_asof_join, q_range_join) — the time-series
# join operators named in the extension mandate
# =========================================================================


@register(
    "q_asof_join",
    """WITH rates AS (
         SELECT user_id, ts, value AS rate FROM (
           SELECT user_id, ts, value,
                  row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id % 20 = 0
         ) WHERE rn = 1
       )
       SELECT e.event_id, e.user_id, e.ts, r.rate
       FROM events e ASOF LEFT JOIN rates r
         ON e.user_id = r.user_id AND e.ts >= r.ts""",
    "As-of join: every event gets the latest 'rate' quote at-or-before its "
    "timestamp per user. Spark impl = union-window (tag sides, one window "
    "shuffle on the key, last(payload, ignorenulls)) — no per-key nested "
    "loop; DuckDB oracle uses its native ASOF LEFT JOIN.",
)
def q_asof_join(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.dedup import keep_first_per_key
    from real_time_rides_data_pipeline_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    rates = (
        keep_first_per_key(
            ev.filter(F.col("event_id") % 20 == 0),
            keys=("user_id", "ts"),
            order_by=("event_id",),
            descending=True,
        )
        .select("user_id", "ts", F.col("value").alias("rate"))
    )
    out = asof_join(
        ev.select("event_id", "ts", "user_id"),
        rates,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload="rate",
    )
    return out.select("event_id", "user_id", "ts", "rate")


@register(
    "q_range_join",
    """WITH anchors AS (
         SELECT event_id AS anchor_id, user_id, ts AS a_ts
         FROM events WHERE event_id % 40 = 0
       )
       SELECT a.anchor_id, a.user_id, count(e.event_id) AS n_in_window
       FROM anchors a JOIN events e
         ON e.user_id = a.user_id
        AND e.ts >= a.a_ts AND e.ts < a.a_ts + INTERVAL 2 HOUR
       GROUP BY a.anchor_id, a.user_id""",
    "Range join (point-in-interval): count each user's events inside the "
    "2-hour window opened by every anchor event. Spark impl buckets time "
    "into window-length cells so the range predicate becomes an equi-join "
    "on (key, cell) + residual filter (≤2× interval duplication) — the "
    "plan is a hash join, not a per-key nested loop.",
)
def q_range_join(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.joins import bucketed_range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    anchors = ev.filter(F.col("event_id") % 40 == 0).select(
        F.col("event_id").alias("anchor_id"), "user_id", F.col("ts").alias("a_ts")
    )
    joined = bucketed_range_join(
        anchors,
        ev.select("event_id", "ts", "user_id"),
        key="user_id",
        start_col="a_ts",
        point_ts="ts",
        length_seconds=7200,
    )
    return joined.groupBy("anchor_id", "user_id").agg(
        F.count("event_id").alias("n_in_window")
    )


# =========================================================================
# Aggregation surface: interpolated percentiles, two-phase salted
# skew aggregation, incremental rollup re-aggregation (q_percentile_cont,
# q_skew_salted_agg, q_rollup_reagg)
# =========================================================================


@register(
    "q_percentile_cont",
    """SELECT lang,
              quantile_cont(n_chars, 0.25) AS p25,
              quantile_cont(n_chars, 0.50) AS p50,
              quantile_cont(n_chars, 0.75) AS p75,
              count(*) AS n_docs
       FROM documents GROUP BY lang""",
    "Exact INTERPOLATED percentiles (quantile_cont / percentile — the "
    "continuous complement of q_percentile_disc): per-language quartiles "
    "of document length. Hash-exact across engines because the input is "
    "integral and the quantile fractions are dyadic (k/4): the "
    "interpolation weight is 0, .25, .5 or .75 and the lerp of two int64s "
    "by a dyadic weight is exact in binary floating point under either "
    "lerp formulation. Exact percentile concentrates each GROUP's values "
    "on one reducer (unlike approx_percentile's mergeable sketch, the "
    "rows-only q_approx_quantile) — fine when groups are languages "
    "(dozens), the sketch is the path when groups are users (billions); "
    "having BOTH is the point.",
)
def q_percentile_cont(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.50)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "q_skew_salted_agg",
    """SELECT event_type,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
              count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) // count(*)
                   AS BIGINT) AS avg_cents
       FROM events GROUP BY event_type""",
    "Two-phase SALTED aggregation — the skewed-key pattern q_salted_join "
    "demonstrates for joins, applied to aggregation: phase 1 groups by "
    "(event_type, pmod(event_id, 16)) so a hot key's rows spread over 16 "
    "reducers; phase 2 re-aggregates the 16 partials per key. sum/count "
    "re-aggregate losslessly (sum of sums, sum of counts; avg derived "
    "LAST as integer cents DIV — value >= 0 in this schema, and floor == "
    "truncate for non-negative operands so Spark DIV matches DuckDB //). "
    "The oracle is the PLAIN one-phase GROUP BY — the salt is "
    "semantically invisible, which is exactly the claim being checked. "
    "With event_type cardinality 5, an unsalted agg puts 20% "
    "of ALL rows on one reducer; salting bounds every task at 1/80th. "
    "(Spark's partial/final HashAggregate already combines map-side — "
    "the explicit salt matters when partial aggregation is defeated, "
    "e.g. high-cardinality secondary grouping or collect_list-style "
    "non-reducing aggregates.)",
)
def q_skew_salted_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "__salt")
        .agg(
            F.sum(cents(F.col("value"))).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("__s").alias("total_cents"),
        F.sum("__n").alias("n_events"),
        F.expr("sum(__s) DIV sum(__n)").alias("avg_cents"),
    )


@register(
    "q_rollup_reagg",
    """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
              count(*) AS n_events
       FROM events GROUP BY 1, 2""",
    "Incremental rollup re-aggregation — the hypertable/materialized-"
    "rollup pattern (TimescaleDB continuous aggregates, Druid rollup): "
    "a MINUTE-grain pre-aggregate (what a streaming job would maintain "
    "incrementally) is re-aggregated to HOUR grain, and the oracle checks "
    "it equals aggregating the raw events directly — the mergeability "
    "contract that makes rollup pyramids (minute -> hour -> day) valid. "
    "Only sum/count/min/max re-aggregate losslessly; avg must be carried "
    "as (sum, count) — this key carries exactly those. The "
    "minute table is ~1/raw-fanout the size of raw, so every downstream "
    "hour/day query scans the rollup, not the events: the second "
    "aggregation here shuffles ONLY pre-agg rows, and Catalyst collapses "
    "date_trunc(hour, minute_ts) to a map-side expression over them.",
)
def q_rollup_reagg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    minute = (
        ev.select(
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
            "event_type",
            cents(F.col("value")).alias("__c"),
        )
        .groupBy("minute_ts", "event_type")
        .agg(F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    return (
        minute.select(
            F.date_trunc("hour", F.col("minute_ts")).alias("hour_ts"),
            "event_type", "__s", "__n",
        )
        .groupBy("hour_ts", "event_type")
        .agg(
            F.sum("__s").alias("total_cents"),
            F.sum("__n").alias("n_events"),
        )
    )


@register(
    "q_gapfill_spine",
    """WITH h AS (
         SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents,
                count(*) AS n_events
         FROM events
         WHERE event_type = 'purchase' AND value >= 300.0
         GROUP BY 1
       ), b AS (
         SELECT date_trunc('hour', min(ts)) AS mn,
                date_trunc('hour', max(ts)) AS mx
         FROM events
       ), spine AS (
         SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
         FROM b
       )
       SELECT s.hour_ts,
              coalesce(h.total_cents, 0) AS total_cents,
              coalesce(h.n_events, 0) AS n_events
       FROM spine s LEFT JOIN h USING (hour_ts)""",
    "Time-series GAP FILLING: a sparse hourly series (high-value "
    "purchases — a handful of matched hours even at sf0.01, so the "
    "join's MATCH path is oracle-exercised, not just the zero fill) is joined onto a dense calendar "
    "spine generated with sequence()/explode between the data's own "
    "min/max hour, absent hours zero-filled — the densification step "
    "before any rolling-window model sees the series. Scale shape: the "
    "raw-data work is ONE partial-first aggregation; the spine and the "
    "aggregated series are both hour-grain (~9k rows/year no matter how "
    "many TB of raw events), so the left join broadcasts the aggregate — "
    "fact-table volume never touches the join. Spine bounds come from the "
    "data (min/max agg = one scalar row), not a config literal, so "
    "backfills stay replayable.",
)
def q_gapfill_spine(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 300.0))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(
            F.sum(cents(F.col("value"))).alias("total_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    return spine.join(F.broadcast(hourly), "hour_ts", "left").select(
        "hour_ts",
        F.coalesce("total_cents", F.lit(0)).alias("total_cents"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


@register(
    "q_posexplode",
    """SELECT doc_id, u.pos, u.term
       FROM (SELECT doc_id,
                    unnest([{'pos': i + 1, 'term': w[i + 1]}
                            for i in range(len(w))]) AS u
             FROM (SELECT doc_id,
                          string_split_regex(trim(text), '\\s+') AS w
                   FROM documents))""",
    "Position-aware explode (posexplode — the ordinality-preserving "
    "lateral): every token with its 1-based position, the shape that "
    "feeds positional n-gram models and span labeling where plain "
    "explode loses order. Map-side fan-out only — the position is "
    "generated WITH the row, no window, no shuffle, no join; order is a "
    "per-row property so the operator is embarrassingly parallel at any "
    "scale.",
)
def q_posexplode(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents", parallel=True)
    return d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")


@register(
    "q_sql_entry",
    """SELECT event_type,
              count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
              max(ts) AS last_ts
       FROM events GROUP BY event_type""",
    "SQL-STRING entry point (SURVEY §3.3 — the reference's "
    "verify_gold_layer_data.py runs spark.sql over a metastore table): "
    "the fixture is registered as a temp view and the query goes through "
    "ANTLR parse → analyzer resolution → the SAME Catalyst/Tungsten "
    "pipeline as the DataFrame API — one engine, two front ends. The SQL "
    "text is dialect-shared with the DuckDB oracle verbatim. Per-call "
    "unique view name so concurrent sessions/benches never collide; plan "
    "shape (partial+final hash agg over one exchange) pinned in "
    "tests/test_plans.py equals the DataFrame twin's.",
)
def q_sql_entry(spark, sf_dir):
    import uuid

    name = f"events_sqlentry_{uuid.uuid4().hex[:8]}"
    _t(spark, sf_dir, "events").createOrReplaceTempView(name)
    return spark.sql(
        f"""SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS total_cents,
                   max(ts) AS last_ts
            FROM {name} GROUP BY event_type"""
    )


@register(
    "q_pareto_frontier",
    """WITH p AS (
         SELECT p_partkey,
                CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
                p_size
         FROM part
       )
       SELECT p_partkey, price_cents, p_size
       FROM p t
       WHERE NOT EXISTS (
         SELECT 1 FROM p u
         WHERE u.price_cents <= t.price_cents AND u.p_size >= t.p_size
           AND (u.price_cents < t.price_cents OR u.p_size > t.p_size)
       )""",
    "2-D Pareto frontier (skyline): parts not dominated on (minimize "
    "price, maximize size) — the classic multi-objective shortlist "
    "(cheapest-per-capability sweep). The ORACLE is the O(N^2) "
    "NOT-EXISTS dominance SQL; the Spark plan is the O(N log N) sweep "
    "that scales with the data: group to one (price, max_size) row per "
    "distinct price (hash shuffle, domain-bounded output — cents prices, "
    "not N rows), running max of size over the price-ordered staircase, "
    "keep prices whose max_size strictly improves on every cheaper "
    "price, then a broadcast join back picks the rows at (price, "
    "max_size). A point is dominated iff a cheaper price reaches >= its "
    "size (prefix max >= size) or an equal price exceeds it (group max "
    "> size) — comparisons only, no float arithmetic. The staircase "
    "window orders the price-distinct aggregate, not the fact table; at "
    "cluster scale that is a range-partitioned sort + partition-offset "
    "broadcast over a domain-bounded row count.",
)
def q_pareto_frontier(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import (
        pareto_frontier_2d,
    )

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    return pareto_frontier_2d(p, "price_cents", "p_size").orderBy(
        "price_cents", "p_partkey"
    )


@register(
    "q_event_transitions",
    """WITH t AS (
         SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS to_type
         FROM events
       )
       SELECT from_type, to_type,
              CAST(count(*) AS BIGINT) AS n_transitions
       FROM t WHERE to_type IS NOT NULL
       GROUP BY from_type, to_type""",
    "Event-transition matrix (Markov-chain sequence analytics — the "
    "first-order behavior model behind next-action prediction and "
    "funnel-drop diagnosis): per user, order events by (ts, event_id) — "
    "a total order, ties broken exactly — pair each event with its "
    "successor via lead(), count every (from, to) transition corpus-wide. "
    "Scale: ONE hash shuffle on user_id for the window (per-user "
    "sequences sort within partitions), then a partial-first aggregate "
    "onto the tiny |event_types|^2 transition matrix — the fact table "
    "crosses the wire once.",
)
def q_event_transitions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


@register(
    "q_gapfill_interp",
    """WITH hr AS (
         SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
         FROM events
         WHERE event_type = 'purchase' AND value >= 300.0
         GROUP BY 1
       ), b AS (
         SELECT date_trunc('hour', min(ts)) AS mn,
                date_trunc('hour', max(ts)) AS mx
         FROM events
       ), spine AS (
         SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
         FROM b
       ), f AS (
         SELECT s.hour_ts,
                epoch_us(s.hour_ts) // 3600000000 AS h,
                hr.total_cents
         FROM spine s LEFT JOIN hr USING (hour_ts)
       ), wnd AS (
         SELECT hour_ts, h, total_cents,
                last_value(total_cents IGNORE NULLS) OVER
                  (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS pv,
                last_value(CASE WHEN total_cents IS NOT NULL THEN h END
                           IGNORE NULLS) OVER
                  (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS ph,
                first_value(total_cents IGNORE NULLS) OVER
                  (ORDER BY h ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN total_cents IS NOT NULL THEN h END
                            IGNORE NULLS) OVER
                  (ORDER BY h ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS nh
         FROM f
       )
       SELECT hour_ts,
              (total_cents IS NOT NULL) AS is_observed,
              CASE WHEN pv IS NULL OR nv IS NULL THEN NULL
                   WHEN ph = nh THEN pv
                   ELSE (pv * (nh - h) + nv * (h - ph)) // (nh - ph)
              END AS interp_cents
       FROM wnd""",
    "LINEAR-interpolation gap filling (TimescaleDB interpolate() / pandas "
    "interpolate('time') semantics — the step past q_gapfill_spine's "
    "zero-fill): missing hours get the time-weighted line between the "
    "nearest observed neighbors, computed ENTIRELY in integers — hours "
    "as epoch-hour ordinals, values as cents, the interpolant "
    "(pv*(nh-h) + nv*(h-ph)) div (nh-ph) floor-divided so no float "
    "crosses an engine boundary; observed hours reproduce themselves "
    "(ph=nh collapses the formula), edges before the first / after the "
    "last observation stay NULL. Scale: same as the spine key — raw "
    "data crosses the wire once into the hour-grain aggregate; the "
    "neighbor windows run over the domain-bounded spine (~9k rows/year "
    "regardless of TB), broadcast join against the aggregate.",
)
def q_gapfill_interp(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") >= 300.0)
        )
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(F.sum(cents(F.col("value"))).alias("total_cents"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    f = spine.join(F.broadcast(hourly), "hour_ts", "left").select(
        "hour_ts",
        F.expr("unix_micros(hour_ts) div 3600000000").alias("h"),
        "total_cents",
    )
    obs_h = F.when(F.col("total_cents").isNotNull(), F.col("h"))
    wp = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    wnd = f.select(
        "hour_ts",
        "h",
        "total_cents",
        F.last("total_cents", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("total_cents", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    return wnd.select(
        "hour_ts",
        F.col("total_cents").isNotNull().alias("is_observed"),
        F.when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .when(F.col("ph") == F.col("nh"), F.col("pv"))
        .otherwise(F.expr("(pv * (nh - h) + nv * (h - ph)) div (nh - ph)"))
        .alias("interp_cents"),
    )


# =========================================================================
# Semi-additive snapshot measure — balances sum across ACCOUNTS
# but not across TIME; the classic OLAP "last value per period" rollup
# =========================================================================


@register(
    "q_semi_additive_snapshot",
    """WITH r AS (
         SELECT CAST(ts AS DATE) AS day, user_id,
                CAST(round(value * 100) AS BIGINT) AS cents,
                row_number() OVER (
                    PARTITION BY user_id, CAST(ts AS DATE)
                    ORDER BY ts DESC, event_id DESC) AS rk
         FROM events
       ), eod AS (
         SELECT day, user_id, cents FROM r WHERE rk = 1
       )
       SELECT day,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(cents) AS BIGINT) AS eod_total_cents,
              CAST(max(cents) AS BIGINT) AS max_user_cents
       FROM eod GROUP BY day""",
    "SEMI-ADDITIVE SNAPSHOT measure: per (user, day) keep only the "
    "END-OF-DAY value (latest by (ts, event_id) — total order, no "
    "arrival luck), then sum ACROSS USERS per day. The balance/inventory "
    "pattern every finance/stock mart needs and plain SUM gets wrong — "
    "balances add across accounts but never across time; summing a "
    "user's intraday values double-counts. Exact integer cents. Shape: "
    "ONE events scan, one rank window partitioned by (user_id, day), "
    "then a |users × days| → |days| hash agg — two keyed exchanges, the "
    "second over the COMPACT per-(user, day) frame, never raw events; "
    "the window state is one row per partition key.",
)
def q_semi_additive_snapshot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    eod = (
        ev.select(day, "user_id", cents(F.col("value")).alias("c"), "ts",
                  "event_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return eod.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("eod_total_cents"),
        F.max("c").alias("max_user_cents"),
    )


# =========================================================================
# Pareto 80/20 concentration — "how many users drive
# 80% of revenue", bucket-resolution, bounded-domain windows
# =========================================================================


@register(
    "q_pareto_8020",
    """WITH pu AS (
         SELECT event_type, user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS c
         FROM events GROUP BY event_type, user_id
       ), mx AS (SELECT max(c) AS mxc FROM pu),
       bk AS (
         SELECT event_type, (c * 10000) // (mxc + 1) AS b,
                CAST(count(*) AS BIGINT) AS nu,
                CAST(sum(c) AS BIGINT) AS sc
         FROM pu, mx GROUP BY event_type, b
       ), cum AS (
         SELECT event_type, b, nu, sc,
                CAST(sum(nu) OVER (PARTITION BY event_type ORDER BY b DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cnu,
                CAST(sum(sc) OVER (PARTITION BY event_type ORDER BY b DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS csc,
                CAST(sum(nu) OVER (PARTITION BY event_type) AS BIGINT)
                    AS tot_nu,
                CAST(sum(sc) OVER (PARTITION BY event_type) AS BIGINT)
                    AS tot_sc
         FROM bk
       )
       SELECT event_type,
              max(tot_nu) AS n_users,
              CAST(min(CASE WHEN 100 * csc >= 80 * tot_sc THEN cnu END)
                   AS BIGINT) AS users_to_80,
              (min(CASE WHEN 100 * csc >= 80 * tot_sc THEN cnu END)
               * 1000000) // max(tot_nu) AS users_to_80_ppm,
              CAST(floor(min(CASE WHEN 100 * csc >= 80 * tot_sc
                                  THEN csc END)::DOUBLE
                         * 1000000 / max(tot_sc)) AS BIGINT)
                  AS share_at_cut_ppm
       FROM cum GROUP BY event_type""",
    "PARETO 80/20 concentration: the smallest top-spender set covering "
    ">=80% of revenue, per event type — the 'how concentrated is this "
    "workload/market/corpus' readout (same family as q_hhi_concentration "
    "but in head-count units). SCALE DESIGN: user totals are bucketed "
    "into 10,000 spend buckets against a broadcast global max FIRST, so "
    "the cumulative windows run over the BOUNDED (type x bucket) domain "
    "— never a per-user global sort (the answer is bucket-resolution, "
    "exact at any corpus size for the bucketed statement; the "
    "rank-exact variant would need the q_rfm_segments range-partitioned "
    "rank). The crossing point needs NO row_number: cumulative revenue "
    "is monotone along the descending-bucket traversal, so the "
    "qualifying rows are a suffix and conditional MIN aggregates read "
    "off the crossing bucket's cumulative user count and share exactly. "
    "All comparisons are exact integer cross-multiplications "
    "(100*cum >= 80*total). Shape: one events scan -> (type, user) agg "
    "-> 1-row broadcast max -> (type, bucket) agg -> domain windows -> "
    "|types| rows.",
)
def q_pareto_8020(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents(F.col("value"))).alias("c")
    )
    # Two consumers (the broadcast max + the bucket agg): materialize the
    # per-user aggregate once so events are scanned exactly once.
    pu = pu.localCheckpoint()
    mx = pu.agg(F.max("c").alias("mxc"))
    bk = (
        pu.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.expr("(c * 10000) div (mxc + 1)").alias("b"),
            "c",
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("nu"), F.sum("c").alias("sc"))
    )
    w_desc = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = bk.select(
        "event_type",
        F.sum("nu").over(w_desc).alias("cnu"),
        F.sum("sc").over(w_desc).alias("csc"),
        F.sum("nu").over(w_all).alias("tot_nu"),
        F.sum("sc").over(w_all).alias("tot_sc"),
    )
    qual = 100 * F.col("csc") >= 80 * F.col("tot_sc")
    g = cum.groupBy("event_type").agg(
        F.max("tot_nu").alias("n_users"),
        F.min(F.when(qual, F.col("cnu"))).alias("users_to_80"),
        F.min(F.when(qual, F.col("csc"))).alias("csc_cut"),
        F.max("tot_sc").alias("tot_sc"),
    )
    return g.select(
        "event_type",
        "n_users",
        "users_to_80",
        F.expr("(users_to_80 * 1000000) div n_users").alias(
            "users_to_80_ppm"
        ),
        F.floor(
            F.col("csc_cut").cast("double") * 1000000 / F.col("tot_sc")
        )
        .cast("long")
        .alias("share_at_cut_ppm"),
    )
