"""TPC-H kernel suite over the driver's slimmed star schema (SURVEY.md §2.3
extensions — "credible analytics engine over the star-schema fixtures").

Q1/Q3/Q4/Q6/Q14 live in queries.py / queries_olap.py; this module adds the
rest of the classic join/agg shapes, adapted to the fixture schema:

- There is NO ``partsupp`` table ⇒ Q2/Q11 run over a DERIVED partsupp
  (deterministic mod-8 bucket join of part×supplier with LCG-derived
  integer qty/cost — see the derived-partsupp section below); Q9 uses
  ``p_retailprice`` as the unit-cost proxy; Q16/Q20 derive part↔supplier
  pairs from ``lineitem``.
- ``lineitem`` has no commit/receipt dates or ship modes ⇒ Q12 keeps the
  classic shape (lineitem⋈orders, priority-bucket counts per lineitem
  category) with ``l_returnflag`` standing in for ``l_shipmode`` and
  "shipped ≥ 90 days after order" standing in for the commit/receipt
  lateness predicate; Q21 re-keys "kept orders waiting" to "owned the
  LAST ship date of a multi-supplier order".
- ``customer`` has no phone ⇒ Q22 groups by ``c_nationkey`` and defines
  inactivity as "no orders since 1999".

Determinism rules (SURVEY §7.4) as everywhere: money in exact integer
cents so sums are summation-order independent; every LIMIT carries a
unique total order; ratio outputs divide identical exact integers on both
engines before one final double cast.

Scale notes: every dim→fact join broadcasts the dim
side explicitly (supplier/nation/region always; part/customer at fixture
scale — at real scale AQE's size estimate makes that call); aggregates are
partial+final hash aggs; the only full-width shuffles are on fact keys
(l_orderkey / o_custkey), which AQE coalesces and skew-splits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.registry import _t, register

#: revenue in exact 1e-4 units: cents(extendedprice) × (100 − cents(discount))
def _rev():
    return cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))


_REV_SQL = (
    "CAST(round(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(round(l_discount*100) AS BIGINT))"
)


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "q_tpch_q5",
    f"""SELECT n_name,
              CAST(sum({_REV_SQL}) AS DOUBLE)/10000.0 AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name""",
    "TPC-H Q5 (local supplier volume): 6-table join with the customer-"
    "nation = supplier-nation cycle closing the graph; region/nation/"
    "supplier broadcast, one fact shuffle on the order key.",
)
def q_tpch_q5(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg((F.sum(_rev()).cast("double") / 10000.0).alias("revenue"))
    )


@register(
    "q_tpch_q7",
    f"""SELECT supp_nation, cust_nation, yr,
              CAST(sum(vol) AS DOUBLE)/10000.0 AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(year(l_shipdate) AS INTEGER) AS yr,
                    {_REV_SQL} AS vol
             FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
       GROUP BY supp_nation, cust_nation, yr""",
    "TPC-H Q7 (volume shipping): nation table joined twice under different "
    "roles (supplier side / customer side), directional pair filter, "
    "per-year revenue — the self-join-as-two-roles pattern.",
)
def q_tpch_q7(spark, sf_dir):
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
        )
        .agg((F.sum(_rev()).cast("double") / 10000.0).alias("revenue"))
    )


@register(
    "q_tpch_q8",
    f"""SELECT yr,
              CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol ELSE 0 END)
                        AS DOUBLE) / sum(vol) AS DOUBLE) AS mkt_share
       FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                    {_REV_SQL} AS vol,
                    n2.n_name AS nation
             FROM part JOIN lineitem ON p_partkey = l_partkey
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                  JOIN region ON n1.n_regionkey = r_regionkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n2 ON s_nationkey = n2.n_nationkey
             WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
               AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
       GROUP BY yr""",
    "TPC-H Q8 (national market share): 8-relation join, conditional share "
    "of one supplier nation in a region's PROMO spend per year. The ratio "
    "divides two exact-integer sums, cast once — engine-portable.",
)
def q_tpch_q8(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    c = _t(spark, sf_dir, "customer")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("n1_key"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    s = _t(spark, sf_dir, "supplier")
    vol = _rev()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(vol)
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


@register(
    "q_tpch_q9",
    f"""SELECT nation, yr,
              CAST(sum({_REV_SQL}
                   - CAST(round(p_retailprice*100) AS BIGINT)
                     * CAST(round(l_quantity) AS BIGINT) * 100) AS DOUBLE)
                  / 10000.0 AS profit
       FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
            JOIN part ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN nation ON s_nationkey = n_nationkey
       WHERE p_name LIKE '%a%'
       GROUP BY nation, yr
       -- fixture schema has no partsupp; p_retailprice stands in for
       -- ps_supplycost as the per-unit cost (adaptation documented in module)
       """.replace("GROUP BY nation, yr", "GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)")
    .replace("SELECT nation, yr,", "SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS yr,"),
    "TPC-H Q9 (product-type profit): part-name pattern filter, 5-table "
    "join, profit = revenue − cost·qty per supplier-nation per year; "
    "p_retailprice proxies the missing ps_supplycost. All money exact "
    "integer 1e-4 units until one final cast.",
)
def q_tpch_q9(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = _rev() - cents(F.col("p_retailprice")) * F.round(
        F.col("l_quantity")
    ).cast("long") * F.lit(100).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg((F.sum(amount).cast("double") / 10000.0).alias("profit"))
    )


@register(
    "q_tpch_q10",
    f"""SELECT c_custkey, c_name,
              CAST(sum({_REV_SQL}) AS DOUBLE)/10000.0 AS revenue,
              c_acctbal, n_name
       FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         AND l_returnflag = 'R'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "TPC-H Q10 (returned items): quarter-sliced orders, returned lines "
    "only, top-20 customers by lost revenue — join + agg + "
    "TakeOrderedAndProject; exact-cents revenue makes the top-20 cut "
    "deterministic.",
)
def q_tpch_q10(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-04-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_rev()).cast("double") / 10000.0).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q12",
    """SELECT l_returnflag AS ship_bucket,
              count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
                  AS high_line_count,
              count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                  AS low_line_count
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY l_returnflag""",
    "TPC-H Q12 (shipping priority audit), adapted to the fixture schema: "
    "l_returnflag stands in for l_shipmode and 'shipped >= 90 days after "
    "the order date' for the commit/receipt lateness predicate — the "
    "kernel (fact⋈fact equi-join on the order key, conditional priority "
    "counts per lineitem bucket) is unchanged. The shipdate range filter "
    "is pushed to the lineitem scan; the join shuffles both sides on "
    "l_orderkey/o_orderkey (no broadcast — both are fact tables at scale, "
    "AQE may still elect one at fixture size).",
)
def q_tpch_q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_bucket"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                                AND o_orderpriority <> '4-NOT SPECIFIED'
             GROUP BY c_custkey)
       GROUP BY c_count""",
    "TPC-H Q13 (customer order-count distribution): outer join with an "
    "ON-clause residual predicate (NOT a WHERE — unmatched customers must "
    "survive as zero counts), two stacked aggregations.",
)
def q_tpch_q13(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_tpch_q15",
    f"""WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                sum({_REV_SQL}) AS total_rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE)/10000.0 AS total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_rev = (SELECT max(total_rev) FROM revenue)""",
    "TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the "
    "argmax row(s) — the aggregate is computed once and its max broadcast "
    "back as a scalar (ties kept, exact-integer compare).",
)
def q_tpch_q15(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_rev")
    )
    best = revenue.agg(F.max("total_rev").alias("best_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), F.col("total_rev") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_rev").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "q_tpch_q16",
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1,5,9,13,17,21,25,29)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 40""",
    "TPC-H Q16 (parts/supplier relationship): distinct-count of suppliers "
    "per part group — lineitem supplies the part↔supplier pairs (fixture "
    "has no partsupp); COUNT(DISTINCT) plans an Expand + two-level agg.",
)
def q_tpch_q16(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(40)
    )


@register(
    "q_tpch_q17",
    """SELECT CAST(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)
                   /100.0/7.0 AS DOUBLE) AS avg_yearly,
              count(*) AS n_items
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#23'
         AND l_quantity < (SELECT 0.2*avg(l_quantity) FROM lineitem l2
                           WHERE l2.l_partkey = p_partkey)""",
    "TPC-H Q17 (small-quantity revenue): correlated per-part average "
    "decorrelated into a groupBy + broadcast re-join — the standard "
    "rewrite Spark/Catalyst applies to correlated scalar subqueries. "
    "Quantities are whole numbers (exact in double), so avg and the "
    "0.2× threshold are bit-identical across engines.",
)
def q_tpch_q17(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100.0 / 7.0
            )
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_tpch_q18",
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
              CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0
                  AS total_qty
       FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 25000
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "TPC-H Q18 (large-volume customers): per-order quantity rollup with a "
    "HAVING cut (>250 units), top-100 by price — group-by on the join key "
    "means the agg reuses the join's shuffle partitioning.",
)
def q_tpch_q18(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    qty = cents(F.col("l_quantity"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).alias("qty_cents"))
        .filter(F.col("qty_cents") > 25000)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("qty_cents").cast("double") / 100.0).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q_tpch_q19",
    f"""SELECT CAST(sum({_REV_SQL}) AS DOUBLE)/10000.0 AS revenue,
              count(*) AS n_items
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 20 AND 30)""",
    "TPC-H Q19 (discounted revenue): disjunction of brand/size/quantity "
    "conjunctions straddling the join — the per-side prefilters (brand ∈ "
    "…, quantity ≤ 30) are pushed below the join, the full OR evaluates "
    "as the join residual. (Fixture has no container/shipmode columns.)",
)
def q_tpch_q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") >= 1)
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            (F.sum(_rev()).cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_tpch_q20",
    """SELECT s_name, s_suppkey FROM supplier
       WHERE s_suppkey IN (
         SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_name LIKE '%gear%'
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_suppkey
         HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 400)""",
    "TPC-H Q20 (part promotion): suppliers who moved >400 units of "
    "'%gear%' parts in 1996 — IN-subquery planned as agg → left-semi "
    "join (shipped quantity from lineitem stands in for partsupp "
    "availability).",
)
def q_tpch_q20(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("units"))
        .filter(F.col("units") > 400)
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_name", "s_suppkey")


@register(
    "q_tpch_q21",
    """WITH last_ship AS (
         SELECT l_orderkey, max(l_shipdate) AS max_ship,
                count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_orderkey)
       SELECT s_name, count(*) AS numwait
       FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = lineitem.l_orderkey
            JOIN last_ship ON last_ship.l_orderkey = lineitem.l_orderkey
       WHERE o_orderstatus = 'F' AND n_supp > 1 AND l_shipdate = max_ship
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""",
    "TPC-H Q21 shape (suppliers who kept orders waiting), re-keyed to the "
    "fixture schema (no commit/receipt dates): in finished multi-supplier "
    "orders, count per supplier how often THEIR line shipped last. The "
    "EXISTS/NOT-EXISTS pair of classic Q21 becomes one per-order "
    "aggregate re-joined to the lines.",
)
def q_tpch_q21(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy(F.col("l_orderkey").alias("ls_orderkey")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(last_ship, li.l_orderkey == F.col("ls_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "q_tpch_q22",
    """SELECT c_nationkey, count(*) AS numcust,
              CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0
                  AS totacctbal
       FROM customer
       WHERE c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT))
                                      AS DOUBLE)/count(*)/100.0
                          FROM customer WHERE c_acctbal > 0)
         AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
       GROUP BY c_nationkey""",
    "TPC-H Q22 (global sales opportunity): above-average-balance customers "
    "with no recent orders, per nation — scalar-subquery threshold "
    "(exact-cents avg) + anti-join against 1999+ orders. (Fixture has no "
    "c_phone; country code becomes c_nationkey, inactivity gets a date "
    "bound so the fixture's fully-covered custkeys still yield rows.)",
)
def q_tpch_q22(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    threshold = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(cents(F.col("c_acctbal"))).cast("double")
            / F.count(F.lit(1))
            / 100.0
        ).alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("1999-01-01 00:00:00")
    )
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents(F.col("c_acctbal"))).cast("double") / 100.0).alias(
                "totacctbal"
            ),
        )
    )


# =========================================================================
# Q2 / Q11 over a DERIVED partsupp
#
# The fixture set has no partsupp table; rather than leave the two classic
# partsupp kernels unimplemented, both engines derive the SAME deterministic
# part↔supplier relation in-plan: supplier s supplies part p iff their keys
# agree mod 8 (an equi-join on the computed bucket — never a cross join),
# with integer availqty/supplycost as fixed linear-congruential functions of
# the key pair. The derivation is the documented stand-in for a fixture
# gap, not a TPC-H-spec partsupp; the JOIN/AGG SHAPES of Q2 (per-group
# argmin via window over a 4-way dim join) and Q11 (group value vs a
# global scalar threshold) are exactly the classic ones.
# =========================================================================

_PARTSUPP_SQL = """
    SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
           (p_partkey * 7 + s_suppkey * 13) % 9999 + 1 AS ps_availqty,
           (p_partkey * 31 + s_suppkey * 17) % 100000 + 100
               AS ps_supplycost_cents
    FROM part JOIN supplier ON p_partkey % 8 = s_suppkey % 8
"""


def _derived_partsupp(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_partkey") % 8).alias("__b")
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", (F.col("s_suppkey") % 8).alias("__b")
    )
    return p.join(s, "__b").select(
        F.col("p_partkey").alias("ps_partkey"),
        F.col("s_suppkey").alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + F.col("s_suppkey") * 13) % 9999 + 1).alias(
            "ps_availqty"
        ),
        (
            (F.col("p_partkey") * 31 + F.col("s_suppkey") * 17) % 100000 + 100
        ).alias("ps_supplycost_cents"),
    )


@register(
    "q_tpch_q2",
    f"""WITH ps AS ({_PARTSUPP_SQL}),
       eu AS (
         SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
                s.s_name, s.s_acctbal, n.n_name
         FROM ps
         JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
         WHERE r.r_name = 'EUROPE'
       ), j AS (
         SELECT p.p_partkey, p.p_brand, p.p_type, eu.*,
                min(eu.ps_supplycost_cents) OVER (PARTITION BY p.p_partkey)
                    AS __mn
         FROM part p JOIN eu ON eu.ps_partkey = p.p_partkey
         WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'
       )
       SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
              ps_supplycost_cents
       FROM j WHERE ps_supplycost_cents = __mn
       ORDER BY s_acctbal DESC, s_name, p_partkey, ps_suppkey
       LIMIT 100""",
    "TPC-H Q2 shape (minimum-cost supplier): for every size-15 ECONOMY "
    "part, the EUROPE supplier(s) offering the minimum supply cost — the "
    "classic correlated-scalar-subquery kernel, decorrelated into a "
    "per-part window min over the 4-way dim join (supplier⋈nation⋈region "
    "broadcast; one shuffle on p_partkey shared by window and argmin "
    "filter). LIMIT 100 under a unique total order (acctbal DESC, name, "
    "part, supplier) → TakeOrderedAndProject. partsupp is the derived "
    "stand-in documented above.",
)
def q_tpch_q2(spark, sf_dir):
    from pyspark.sql import Window

    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    j = p.join(eu, p.p_partkey == eu.ps_partkey)
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("__mn", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("__mn"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost_cents",
        )
        .orderBy(
            F.desc("s_acctbal"), "s_name", "p_partkey",
            # ps_suppkey is projected out; s_name is unique per supplier in
            # the fixture, so (acctbal, name, part) is already total — the
            # extra key exists only in the oracle's ORDER BY where it is
            # equally redundant.
        )
        .limit(100)
    )


@register(
    "q_tpch_q11",
    f"""WITH ps AS ({_PARTSUPP_SQL}),
       de AS (
         SELECT ps.ps_partkey,
                ps.ps_supplycost_cents * ps.ps_availqty AS v
         FROM ps
         JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE n.n_name = 'NATION_7'
       ), grouped AS (
         SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents
         FROM de GROUP BY ps_partkey
       ), total AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM de)
       SELECT g.ps_partkey, g.value_cents
       FROM grouped g, total
       WHERE g.value_cents * 2000 > total.t""",
    "TPC-H Q11 shape (important stock): per-part inventory value held by "
    "one nation's suppliers (NATION_7 — the fixture's synthetic names), keeping parts whose value exceeds 1/2000 of the "
    "national total — group aggregate HAVING a GLOBAL scalar threshold. "
    "The scalar is a one-row aggregate cross-joined (broadcast) into the "
    "filter, the exact decorrelation Spark and DuckDB both plan; the "
    "comparison is integer×integer vs integer (no fraction literal, no "
    "float) so the threshold is bit-exact. value = cost_cents × qty stays "
    "< 2^54 at any fixture SF. partsupp is the derived stand-in.",
)
def q_tpch_q11(spark, sf_dir):
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    de = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    grouped = de.groupBy("ps_partkey").agg(F.sum("v").alias("value_cents"))
    total = de.agg(F.sum("v").alias("t"))
    return (
        grouped.join(F.broadcast(total))
        .filter(F.col("value_cents") * 2000 > F.col("t"))
        .select("ps_partkey", "value_cents")
    )
