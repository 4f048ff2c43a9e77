"""Query registry — SURVEY.md §2 operator inventory as oracle-checkable twins.

Each key maps to (a) a PySpark callable ``(spark, sf_dir) -> DataFrame`` built
from the engine's operator library, and (b) an ANSI-SQL oracle string DuckDB
runs on the same parquet fixtures (``None`` for non-SQL-expressible ops →
rows-only check). Column names/aliases are IDENTICAL on both sides — the
driver's comparator sorts columns by name before value-hashing.

Fixture mapping (FIXTURES.md §B): ``events`` is the ride-stream stand-in
(ts↔event_timestamp, user_id↔driver_id, value↔fare, event_type↔status,
props↔raw JSON); ``documents``/``embeddings`` back the LLM-pipeline
extensions; the TPC-H-ish star schema backs the join surface.

Determinism policy (SURVEY.md §7.4): no rand()/current_timestamp() in compared
output; doubles that aggregate are rounded on BOTH sides; every ORDER BY+LIMIT
has a unique total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_rides_data_pipeline_spark import operators as ops
from real_time_rides_data_pipeline_spark.operators import joins as J
from real_time_rides_data_pipeline_spark.registry import _t, register, registry

__all__ = ["registry", "register"]


# =========================================================================
# §2.2 Projections / filters / scalar expressions (reference Bronze→Silver)
# =========================================================================


@register(
    "q_cast_project",
    "SELECT CAST(event_id AS VARCHAR) AS raw_json_data, ts AS timestamp FROM events",
    "Bronze landing projection: cast + rename + prune (01_bronze:73-76).",
)
def q_cast_project(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumnRenamed("ts", "timestamp")
    return ops.cast_project(ev, value_col="event_id")


@register(
    "q_json_parse",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
       FROM events""",
    "JSON→typed struct via from_json with explicit schema (02_silver:46-47).",
)
def q_json_parse(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True)
    parsed = ops.parse_json_events(
        ev, json_col="props", schema=T.StructType([T.StructField("k", T.IntegerType())])
    )
    return parsed.select("event_id", F.col("data.k").alias("prop_k"))


@register(
    "q_malformed_filter",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
       FROM events WHERE event_id % 10 <> 0""",
    "PERMISSIVE malformed-row dropping (02_silver:48): we corrupt every 10th "
    "payload, from_json yields NULL, filter removes it.",
)
def q_malformed_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True).withColumn(
        "payload",
        F.when(F.col("event_id") % 10 == 0, F.substring("props", 1, 3)).otherwise(
            F.col("props")
        ),
    )
    valid = ops.drop_malformed(ev, json_col="payload")
    parsed = ops.parse_json_events(
        valid,
        json_col="payload",
        schema=T.StructType([T.StructField("k", T.IntegerType())]),
    )
    return parsed.select("event_id", F.col("data.k").alias("prop_k"))


@register(
    "q_struct_star",
    """SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, event_id
       FROM events""",
    "Nested-struct star expansion: SELECT data.* (02_silver:49).",
)
def q_struct_star(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True)
    parsed = ops.parse_json_events(
        ev, json_col="props", schema=T.StructType([T.StructField("k", T.IntegerType())])
    )
    return ops.expand_struct(parsed, "event_id")


@register(
    "q_derived_duration",
    """SELECT event_id,
              date_diff('second', date_trunc('day', ts), ts) AS seconds_into_day
       FROM events""",
    "Epoch-second cast arithmetic (02_silver:67).",
)
def q_derived_duration(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ops.with_trip_duration(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        start_col="day",
        end_col="ts",
        out_col="seconds_into_day",
    ).select("event_id", "seconds_into_day")


@register(
    "q_rand_column",
    """SELECT event_id,
              round(((event_id % 2000) * (2654435761 % 2000)) % 2000 / 100.0, 2)
                  AS trip_distance_km
       FROM events""",
    "Seeded replacement for the reference's rand() distance (02_silver:68-70; "
    "SURVEY §4.3.2): deterministic modular pseudo-distance. Key reduced mod "
    "2000 before the Knuth multiply so intermediates never wrap int64.",
)
def q_rand_column(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.clean import (
        pseudo_distance_modular,
    )

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", pseudo_distance_modular(F.col("event_id")).alias("trip_distance_km")
    )


@register(
    "q_validity_filter",
    """SELECT event_id, ts, user_id, event_type, value FROM events
       WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
         AND value IS NOT NULL AND value >= 0""",
    "7-term conjunctive validity predicate (02_silver:71-79).",
)
def q_validity_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return ops.validity_filter(
        ev, not_null=("event_id", "user_id", "ts"), non_negative=("value",)
    )


@register(
    "q_bool_enrich",
    """SELECT event_id, user_id, value,
              (value < 120 AND event_type = 'error') AS is_suspicious
       FROM events""",
    "Boolean enrichment column (02_silver:99-103) on the events twin.",
)
def q_bool_enrich(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        ((F.col("value") < 120) & (F.col("event_type") == "error")).alias(
            "is_suspicious"
        ),
    )


@register(
    "q_point_lookup",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
       FROM lineitem WHERE l_orderkey = 19 AND l_linenumber = 1""",
    "Multi-column equality point lookup (verify:20-22); parquet row-group "
    "skipping via pushed filters does the pruning at scale.",
)
def q_point_lookup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") == 19) & (F.col("l_linenumber") == 1)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


# =========================================================================
# §2.4 Aggregations (flagship + verification surface)
# =========================================================================

_GOLD_TWIN_SQL = """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           user_id,
           count(event_id) AS total_rides_hourly,
           round(sum(CAST(round(value * 100) AS BIGINT)) / count(value)) / 100.0
               AS avg_fare_hourly,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS total_suspicious_rides_hourly
    FROM events
    GROUP BY 1, 2, 3
"""


def _gold_twin(spark, sf_dir) -> DataFrame:
    """The flagship hourly aggregate mapped onto events (FIXTURES.md §B):
    suspicious-ride stand-in = event_type='error'."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "is_suspicious", F.col("event_type") == "error"
    )
    return ops.hourly_driver_agg(
        ev, ts_col="ts", key_col="user_id", id_col="event_id", fare_col="value"
    )


@register(
    "q_window_hourly_agg",
    _GOLD_TWIN_SQL,
    "FLAGSHIP: 1-hour tumbling window × driver aggregate (03_gold:46-67).",
)
def q_window_hourly_agg(spark, sf_dir):
    return _gold_twin(spark, sf_dir)


@register(
    "q_agg_count",
    "SELECT event_type, count(event_id) AS n_events FROM events GROUP BY event_type",
    "count() non-null per group (03_gold:52).",
)
def q_agg_count(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("event_id").alias("n_events"))


@register(
    "q_agg_avg_round",
    """SELECT event_type,
              round(sum(CAST(round(value * 100) AS BIGINT)) / count(value)) / 100.0
                  AS avg_value
       FROM events GROUP BY event_type""",
    "round(avg(x), 2) per group (03_gold:53), exact-cents formulation "
    "(engine-portable, summation-order independent).",
)
def q_agg_avg_round(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.agg import money_avg_2dp

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(money_avg_2dp("value").alias("avg_value"))


@register(
    "q_agg_cond_sum",
    """SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_errors
       FROM events GROUP BY user_id""",
    "Conditional count via sum(when(..,1).otherwise(0)) (03_gold:54-55).",
)
def q_agg_cond_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors")
    )


@register(
    "q_reagg_distinct",
    f"""SELECT window_start,
               count(DISTINCT user_id) AS active_drivers,
               CAST(sum(total_rides_hourly) AS BIGINT) AS total_rides,
               CAST(sum(total_suspicious_rides_hourly) AS BIGINT) AS total_suspicious
        FROM ({_GOLD_TWIN_SQL}) g
        GROUP BY window_start""",
    "Second-level re-aggregation over Gold (verify:37-41).",
)
def q_reagg_distinct(spark, sf_dir):
    return ops.reaggregate_gold(_gold_twin(spark, sf_dir), key_col="user_id")


@register(
    "q_count_all",
    "SELECT count(*) AS n FROM events",
    "Full-table count action (verify:46).",
)
def q_count_all(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_gold_point_lookup",
    f"""SELECT * FROM ({_GOLD_TWIN_SQL}) g
        WHERE window_start = TIMESTAMP '2024-01-04 22:00:00' AND user_id = 3""",
    "Point lookup into the Gold aggregate (verify:20-30) — the repeated "
    "key-equality probe that observes MERGE updating in place.",
)
def q_gold_point_lookup(spark, sf_dir):
    g = _gold_twin(spark, sf_dir)
    return g.filter(
        (F.col("window_start") == F.lit("2024-01-04 22:00:00").cast("timestamp"))
        & (F.col("user_id") == 3)
    )


# =========================================================================
# §2.5 Sort / limit / top-k / ranking
# =========================================================================


@register(
    "q_topn",
    f"""SELECT * FROM ({_GOLD_TWIN_SQL}) g
        ORDER BY window_end DESC, user_id LIMIT 100""",
    "ORDER BY+LIMIT top-100 (verify:10-12) → TakeOrderedAndProject.",
)
def q_topn(spark, sf_dir):
    g = _gold_twin(spark, sf_dir)
    return ops.top_n(g, [F.col("window_end").desc(), F.col("user_id").asc()])


@register(
    "q_row_number",
    """SELECT user_id, ts, event_id, event_type, value FROM events
       QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
    "Latest record per key via row_number()=1 (SURVEY §2.5) — the batch twin "
    "of keep-latest-state that the reference approximates with MERGE.",
)
def q_row_number(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return ops.latest_per_key(ev)


# =========================================================================
# §2.3 Joins (extension surface over the star schema)
# =========================================================================


@register(
    "q_join_inner",
    """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_extendedprice
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "Equi inner join fact→dim; orders side broadcast (fits executor memory "
    "well past sf0.1; a fact-sized dim needs a bucketed SMJ).",
)
def q_join_inner(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return J.join_fact_dim(
        li, o, li.l_orderkey == o.o_orderkey, "inner"
    ).select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", "l_extendedprice")


@register(
    "q_join_left",
    """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
       FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "Left outer join keeping unmatched facts.",
)
def q_join_left(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return J.join_fact_dim(
        o, c, o.o_custkey == c.c_custkey, "left"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "q_join_semi",
    """SELECT o_orderkey, o_totalprice FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
    "Existence filter via left_semi (no fact duplication).",
)
def q_join_semi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return J.semi_join(o, li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_anti",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "Absence filter via left_anti.",
)
def q_join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return J.anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "q_join_multiway",
    """SELECT r_name,
              CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
                  / 10000.0 AS revenue,
              count(*) AS n_items
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey  = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       GROUP BY r_name""",
    "5-table star join → revenue per region; all dims broadcast (one fact "
    "scan, zero dim shuffles). Revenue in exact integer 1e-4 units "
    "(price and discount are 2-dp money) → portable double.",
)
def q_join_multiway(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = J.star_join(
        li,
        [
            (o, li.l_orderkey == o.o_orderkey),
            (c, o.o_custkey == c.c_custkey),
            (n, c.c_nationkey == n.n_nationkey),
            (r, n.n_regionkey == r.r_regionkey),
        ],
    )
    rev_e4 = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return joined.groupBy("r_name").agg(
        (F.sum(rev_e4).cast("double") / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# =========================================================================
# Stats / approx aggregates (SURVEY §2.4 extensions)
# =========================================================================


@register(
    "q_agg_stats",
    """SELECT event_type,
              min(value) AS min_value,
              max(value) AS max_value,
              floor(sqrt((sum(CAST(round(value*100) AS BIGINT) * CAST(round(value*100) AS BIGINT))
                          - CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)
                            * sum(CAST(round(value*100) AS BIGINT)) / count(value))
                         / (count(value) - 1)) / 100 * 10000) / 10000.0 AS stddev_value,
              floor(quantile_cont(value, 0.5) * 10000) / 10000.0 AS median_value
       FROM events GROUP BY event_type""",
    "min/max/stddev/exact-median stats per group. stddev via exact integer-"
    "cents sums (sum & sum-of-squares are exact longs → the closing double "
    "arithmetic is bit-identical cross-engine; floor-truncated, see "
    "functions.precision).",
)
def q_agg_stats(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import (
        cents,
        floor_round,
    )

    ev = _t(spark, sf_dir, "events")
    c = cents(F.col("value"))
    n = F.count("value")
    sum_c = F.sum(c)
    sum_c2 = F.sum(c * c)
    stddev_cents = F.sqrt((sum_c2 - sum_c.cast("double") * sum_c / n) / (n - 1))
    return ev.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        floor_round(stddev_cents / 100, 4).alias("stddev_value"),
        floor_round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
    )


@register(
    "q_approx_distinct",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
              TRUE AS sketch_within_15pct
       FROM events GROUP BY event_type""",
    "approx_count_distinct(user_id) per event_type — HLL sketch, "
    "constant-memory where countDistinct would shuffle all keys. "
    "Sketch estimates are engine-specific, so the COMPARED columns are the "
    "exact distinct count (cross-checked against DuckDB's) and a Spark-"
    "side attestation that the sketch landed within 15% (= 3 sigma at the "
    "default rsd 0.05) of that exact answer — upgrading the old rows-only "
    "check to a value check that pins the sketch's error bound. The exact "
    "side exists for verification only. "
    "approx_count_distinct is hash-based and deterministic per dataset, "
    "so the boolean is stable.",
)
def q_approx_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    return g.select(
        "event_type",
        "exact_users",
        (err <= 0.15 * F.col("exact_users")).alias("sketch_within_15pct"),
    )


# =========================================================================
# §3 / §7 End-to-end: the whole medallion pipeline as one batch plan
# =========================================================================


@register(
    "q_pipeline_e2e",
    """WITH rides AS (
         SELECT 'DRV' || lpad(CAST(user_id AS VARCHAR), 4, '0') AS driver_id,
                value AS fare,
                ts AS event_timestamp,
                event_id % 900 AS dur
         FROM events
         WHERE event_id IS NOT NULL AND user_id IS NOT NULL
           AND ts IS NOT NULL AND value IS NOT NULL AND value >= 0
       )
       SELECT date_trunc('hour', event_timestamp) AS window_start,
              date_trunc('hour', event_timestamp) + INTERVAL 1 HOUR AS window_end,
              driver_id,
              count(*) AS total_rides_hourly,
              round(sum(CAST(round(fare * 100) AS BIGINT)) / count(fare)) / 100.0
                  AS avg_fare_hourly,
              CAST(sum(CASE WHEN dur < 120 AND fare > 300 THEN 1 ELSE 0 END)
                   AS BIGINT) AS total_suspicious_rides_hourly
       FROM rides GROUP BY 1, 2, 3""",
    "END-TO-END: the full reference pipeline (bronze JSON landing → silver "
    "parse/clean/dedup/enrich → gold hourly aggregate) as ONE declarative "
    "batch plan. Events are serialized to ride-event JSON (with 2% injected "
    "duplicate re-emissions, kafka_rides_producer.py:77-78 style), then "
    "pipeline.batch_pipeline runs every silver/gold operator; the oracle "
    "computes the same result directly from the source columns — JSON "
    "round-trip, malformed/validity filters, dedup, and the windowed "
    "aggregate all verified in one key.",
)
def q_pipeline_e2e(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.pipeline import batch_pipeline

    ev = _t(spark, sf_dir, "events", parallel=True)
    us = F.unix_micros(F.col("ts"))
    # deterministic ride fields derived from event columns (FIXTURES.md §B):
    # duration = event_id % 900 s, so start_time = ts - duration exactly.
    rides = ev.select(
        "event_id",
        F.concat(F.lit("RID"), F.lpad(F.col("event_id").cast("string"), 8, "0")).alias(
            "ride_id"
        ),
        F.concat(F.lit("DRV"), F.lpad(F.col("user_id").cast("string"), 4, "0")).alias(
            "driver_id"
        ),
        F.concat(
            F.lit("P"), (F.pmod(F.col("event_id"), F.lit(9000)) + 1000).cast("string")
        ).alias("passenger_id"),
        F.timestamp_micros(
            us - F.pmod(F.col("event_id"), F.lit(900)) * F.lit(1_000_000)
        ).alias("start_time"),
        F.col("ts").alias("end_time"),
        F.col("value").alias("fare"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("event_timestamp"),
    )
    bronze = rides.select(
        "event_id",
        F.to_json(
            F.struct(
                "ride_id",
                "driver_id",
                "passenger_id",
                "start_time",
                "end_time",
                "fare",
                "status",
                "event_timestamp",
            )
        ).alias("raw_json_data"),
        F.col("event_timestamp").alias("timestamp"),
    )
    # 2%-style duplicate re-emissions; silver's dedup must remove them all.
    dupes = bronze.filter(F.col("event_id") % 50 == 0)
    bronze_all = bronze.unionByName(dupes).select("raw_json_data", "timestamp")
    return batch_pipeline(bronze_all)
