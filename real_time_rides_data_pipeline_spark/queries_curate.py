"""Corpus-curation + modern-SQL-surface extensions.

Same registry contract as queries.py / queries_ext.py (SURVEY.md §2.9 scope:
LLM-data-pipeline operators mandated by BASELINE.json). Determinism rules
(SURVEY §7.4) throughout: exact integer cents / counts, floor-truncated
ratios, every tie broken by a total order, no engine-local rounding.

Scale notes:
- Every key here is a narrow map over the scan (variant/url/bytes/
  expectations), one-or-two hash shuffles on explicit keys (pack/zorder/
  dominant-token/SCD2/paragraph-dedup), a broadcast-stats two-level agg
  (zscore), or a fingerprint anti-join (incremental dedup). No all-pairs
  work, no driver-side data collects, no per-row Python except the single
  Arrow-batched ``mapInArrow`` demonstrator.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from real_time_rides_data_pipeline_spark.functions import text as X
from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.streaming.replay import (
    replay_stream,
    run_to_completion,
)

# =========================================================================
# Modern SQL surface: VARIANT JSON, LATERAL subquery
# =========================================================================


@register(
    "q_variant_json",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
       FROM events
       WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50""",
    "Semi-structured access through Spark 4's VARIANT type: parse_json once "
    "into the binary variant encoding, then typed variant_get extraction — "
    "the engine shreds the variant at parse time so repeated path access "
    "never re-parses the JSON text (vs get_json_object which re-parses per "
    "call). Narrow map over the scan, filter pushed onto the extracted "
    "value. Reference stores raw JSON strings end-to-end "
    "(01_bronze_realtime_rides.py:73-76); this is the modern typed upgrade.",
)
def q_variant_json(spark, sf_dir):
    # parallel=True: per-row JSON→variant parsing is CPU-bound, so the
    # single-partition small-file scan must fan out first (no-op at scale)
    ev = _t(spark, sf_dir, "events", parallel=True)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return ev.select("event_id", k.alias("k_val")).filter(F.col("k_val") >= 50)


@register(
    "q_lateral_topk",
    """SELECT c.c_custkey, c.c_mktsegment,
              o.o_orderkey AS top_orderkey,
              CAST(round(o.o_totalprice * 100) AS BIGINT) AS top_price_cents
       FROM customer c,
            LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_custkey = c.c_custkey
                     ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o""",
    "Correlated LATERAL subquery with ORDER BY + LIMIT (top-1 order per "
    "customer) through the SQL front end. Catalyst DECORRELATES this — the "
    "plan is a window-rank/aggregate over one shuffle, not a per-customer "
    "nested loop — so the SQL-dialect convenience costs nothing at scale. "
    "Price tiebreak on o_orderkey gives a total order; cents keep the "
    "compared value exact.",
)
def q_lateral_topk(spark, sf_dir):
    cust = f"cust_lat_{uuid.uuid4().hex[:8]}"
    orders = f"ord_lat_{uuid.uuid4().hex[:8]}"
    _t(spark, sf_dir, "customer").createOrReplaceTempView(cust)
    _t(spark, sf_dir, "orders").createOrReplaceTempView(orders)
    return spark.sql(
        f"""SELECT c.c_custkey, c.c_mktsegment,
                   o.o_orderkey AS top_orderkey,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS top_price_cents
            FROM {cust} c,
                 LATERAL (SELECT o_orderkey, o_totalprice FROM {orders}
                          WHERE o_custkey = c.c_custkey
                          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o"""
    )


# =========================================================================
# Corpus curation: URL parsing, sequence packing, dominant token
# =========================================================================


@register(
    "q_url_extract",
    """SELECT doc_id,
              regexp_extract(url, '^https?://([^/]+)', 1) AS url_host,
              regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS url_path,
              regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS url_lang
       FROM (SELECT doc_id,
                    'https://' || source || '.example.com/' || lang || '/'
                        || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
             FROM documents)""",
    "URL decomposition (host / path / query-param) via Spark's built-in "
    "parse_url — the first step of every web-corpus curation pass (domain "
    "blocklists, per-host dedup, site-level quality priors). The fixture "
    "has no real URLs, so a deterministic URL is synthesized from "
    "(source, lang, doc_id) and then parsed back; the DuckDB oracle uses "
    "the equivalent regexes, pinning parse_url's host/path/query semantics. "
    "Pure JVM narrow map — streams through the scan at any corpus size.",
)
def q_url_extract(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("url_host"),
        F.parse_url(url, F.lit("PATH")).alias("url_path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("url_lang"),
    )


@register(
    "q_sequence_pack",
    """WITH t AS (SELECT doc_id % 8 AS shard, doc_id,
                         len(string_split_regex(trim(text), '\\s+')) AS n_tok
                  FROM documents),
            c AS (SELECT shard, doc_id, n_tok,
                         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
                             AS cum
                  FROM t)
       SELECT shard, CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
       FROM c GROUP BY shard, pack_id""",
    "Training-sequence packing: assign documents to fixed token-budget "
    "packs (2048 tokens) by running offset — the step that turns a shuffled "
    "corpus into dense model contexts. A single GLOBAL cumulative sum would "
    "serialize the whole corpus through one partition, so packing is "
    "sharded: shard = doc_id % 8, cumsum per shard (each shard an "
    "independent in-partition running sum after ONE hash "
    "shuffle). A doc whose offset crosses a 2048 boundary starts its pack "
    "(packs can overflow the budget by less than one doc — the standard "
    "greedy-packing contract; exact bin packing is NP-hard and "
    "order-destroying).",
)
def q_sequence_pack(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.packing import pack_stats

    d = _t(spark, sf_dir, "documents", parallel=True)
    t = d.select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return pack_stats(t, "doc_id", "n_tok", budget=2048, n_shards=8)


@register(
    "q_dominant_token",
    """WITH cnt AS (SELECT doc_id, tok, count(*) AS c
                    FROM (SELECT doc_id,
                                 unnest(string_split_regex(trim(text), '\\s+'))
                                     AS tok
                          FROM documents)
                    GROUP BY doc_id, tok),
            tot AS (SELECT doc_id, tok, c,
                           sum(c) OVER (PARTITION BY doc_id) AS n_tokens,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY c DESC, tok) AS rn
                    FROM cnt)
       SELECT doc_id, tok AS top_token, CAST(c AS BIGINT) AS top_count,
              CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(floor(c * 1000000.0 / n_tokens) AS BIGINT) AS top_ppm
       FROM tot WHERE rn = 1""",
    "Dominant-token ratio per document (boilerplate / template detection: a "
    "single token carrying a large share of the doc is a classic junk "
    "signal, complementary to the shingle-level q_repetition_score). "
    "explode → two-level hash agg on (doc_id, token) → per-doc argmax via "
    "row_number with a (count DESC, token ASC) total order. Both shuffles "
    "key on doc_id(+token) — the canonical scalable "
    "wordcount shape, no skew beyond the largest single document.",
)
def q_dominant_token(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    cnt = (
        d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wd = Window.partitionBy("doc_id")
    wr = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("tok"))
    tot = cnt.select(
        "doc_id",
        "tok",
        "c",
        F.sum("c").over(wd).alias("n_tokens"),
        F.row_number().over(wr).alias("rn"),
    )
    return tot.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("tok").alias("top_token"),
        F.col("c").cast("long").alias("top_count"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("c") * 1000000.0 / F.col("n_tokens"))
        .cast("long")
        .alias("top_ppm"),
    )


# =========================================================================
# Exact-arithmetic outlier detection (z-score without float hazards)
# =========================================================================


@register(
    "q_zscore_outlier",
    """WITH t AS (SELECT event_type,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
            g AS (SELECT event_type, count(*) AS n,
                         sum(v) AS s, sum(v * v) AS q
                  FROM t GROUP BY event_type)
       SELECT t.event_type,
              CAST(g.n AS BIGINT) AS n_total,
              CAST(sum(CASE WHEN (g.n * t.v - g.s) * (g.n * t.v - g.s)
                                 > 4 * (g.n * g.q - g.s * g.s)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              CAST(sum(CASE WHEN (g.n * t.v - g.s) * (g.n * t.v - g.s)
                                 > 4 * (g.n * g.q - g.s * g.s)
                            THEN t.v ELSE 0 END) AS BIGINT) AS outlier_cents
       FROM t JOIN g USING (event_type)
       GROUP BY t.event_type, g.n""",
    "Per-group |z| > 2 outlier detection with EXACT integer arithmetic: the "
    "float z-score z = (v-mean)/stddev is engine-unstable (summation order, "
    "sqrt ulp), but z^2 > 4 is algebraically (n*v - s)^2 > 4*(n*q - s^2) "
    "over integer cents — every term exact, no mean, no sqrt, no division. "
    "Intermediates are decimal(38,0) (Spark) / HUGEINT (DuckDB): at 1e12 "
    "rows per group with 7-digit cents the largest term is ~1e38. Plan: one partial+final hash agg for the 4-row stats "
    "frame, broadcast back onto the scan, one final agg — the same "
    "two-pass shape any distributed stddev takes.",
)
def q_zscore_outlier(spark, sf_dir):
    dec = "decimal(38,0)"
    ev = _t(spark, sf_dir, "events")
    t = ev.select("event_type", cents(F.col("value")).alias("v"))
    # accumulate s and q in decimal(38,0) from the start: at the claimed
    # 1e12-rows-per-group scale, sum(v*v) over 7-digit cents (~1e22)
    # overflows int64 long before the comparison arithmetic runs
    g = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).alias("q"),
    )
    j = t.join(F.broadcast(g), "event_type")
    lhs = (F.col("n").cast(dec) * F.col("v").cast(dec) - F.col("s").cast(dec))
    rhs = F.lit(4).cast(dec) * (
        F.col("n").cast(dec) * F.col("q").cast(dec)
        - F.col("s").cast(dec) * F.col("s").cast(dec)
    )
    is_out = (lhs * lhs) > rhs
    return j.groupBy("event_type", "n").agg(
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.sum(F.when(is_out, F.col("v")).otherwise(0))
        .cast("long")
        .alias("outlier_cents"),
    ).select(
        "event_type",
        F.col("n").alias("n_total"),
        "n_outliers",
        "outlier_cents",
    )


# =========================================================================
# Arrow-native metadata pass (mapInArrow — the zero-copy Python surface)
# =========================================================================


@register(
    "q_arrow_bytes",
    """SELECT doc_id,
              CAST(strlen(text) AS BIGINT) AS n_bytes,
              CAST(length(text) AS BIGINT) AS n_chars
       FROM documents""",
    "Arrow-native metadata extraction via mapInArrow: the Python function "
    "receives pyarrow RecordBatches and answers with pyarrow compute "
    "kernels (binary_length = UTF-8 bytes, utf8_length = codepoints) — no "
    "pandas materialization, no per-row Python, vectorized C++ on both "
    "sides of the Arrow boundary. This is the fastest Python extension "
    "surface Spark has (the header parses in operators/multimodal.py use "
    "mapInPandas; this key pins the leaner Arrow-level twin). Narrow map, "
    "batch-size-bounded memory, embarrassingly parallel.",
)
def q_arrow_bytes(spark, sf_dir):
    import pyarrow as pa

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    schema = StructType.fromDDL("doc_id long, n_bytes long, n_chars long")

    def meta(batches):
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id").cast(pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars"],
            )

    return d.mapInArrow(meta, schema)


# =========================================================================
# Z-order (Morton) layout — multi-dimensional clustering for data skipping
# =========================================================================

_ZBITS = 8  # 8 bits per dimension → 16-bit Morton code, 256 top buckets


def _z_oracle_sql() -> str:
    x, y = "(l_partkey % 256)", "(l_suppkey % 256)"
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""WITH t AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
                     ({z}) AS z
              FROM lineitem)
       SELECT CAST(z // 256 AS BIGINT) AS z_bucket, count(*) AS n_rows,
              CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
              CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
       FROM t GROUP BY z_bucket"""


@register(
    "q_zorder_layout",
    _z_oracle_sql(),
    "Z-order (Morton) clustering key: interleave the bits of two join/filter "
    "dimensions so that sorting by ONE derived key co-locates rows that are "
    "close in BOTH — the layout trick behind multi-dimensional data "
    "skipping (Delta OPTIMIZE ZORDER BY, reference's storage layer is "
    "Delta: 03_gold_realtime_rides.py:75). Each 256-row z-bucket covers a "
    "16x16 (x,y) rectangle — the min/max spans in the output ARE the "
    "per-file column statistics a scan would prune on; a 1-D sort on "
    "either dimension would leave the other's span at full width. Bit "
    "interleave is pure integer arithmetic in whole-stage codegen; one "
    "hash agg on the bucket.",
)
def q_zorder_layout(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.layout import morton_code

    li = _t(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).cast("int")
    y = (F.col("l_suppkey") % 256).cast("int")
    t = li.select(x.alias("x"), y.alias("y"), morton_code(x, y, _ZBITS).alias("z"))
    return t.groupBy(
        F.floor(F.col("z") / 256).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").cast("long").alias("x_min"),
        F.max("x").cast("long").alias("x_max"),
        F.min("y").cast("long").alias("y_min"),
        F.max("y").cast("long").alias("y_max"),
    )


# =========================================================================
# Declarative expectations + SCD type-2 change history
# =========================================================================


@register(
    "q_expectations",
    """SELECT 'value_in_band' AS expectation,
              CAST(sum(CASE WHEN value >= 0 AND value < 400
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              CAST(sum(CASE WHEN value >= 0 AND value < 400
                            THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
       FROM events
       UNION ALL
       SELECT 'known_type',
              CAST(sum(CASE WHEN event_type IN ('click','view','purchase',
                                                'signup','error')
                            THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN event_type IN ('click','view','purchase',
                                                'signup','error')
                            THEN 0 ELSE 1 END) AS BIGINT)
       FROM events
       UNION ALL
       SELECT 'props_k_ge_10',
              CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                                      AS INTEGER) >= 10
                            THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                                      AS INTEGER) >= 10
                            THEN 0 ELSE 1 END) AS BIGINT)
       FROM events
       UNION ALL
       SELECT 'ts_present',
              CAST(sum(CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
       FROM events""",
    "Declarative data-quality expectations (the DLT-style generalization "
    "of the reference's hard-coded 7-term validity chain, "
    "02_silver_realtime_rides.py:71-79): named boolean rules in, "
    "per-rule pass/fail audit rows out. Spark computes ALL rules in ONE "
    "partial+final aggregate pass then stack()-unpivots the single result "
    "row; the oracle's UNION ALL re-scans per rule — clarity over speed "
    "is fine for DuckDB at sf0.01, and the row-set is identical.",
)
def q_expectations(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.quality import (
        expectation_stats,
    )

    ev = _t(spark, sf_dir, "events")
    rules = {
        "value_in_band": (F.col("value") >= 0) & (F.col("value") < 400),
        "known_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "props_k_ge_10": F.get_json_object(F.col("props"), "$.k").cast("int")
        >= 10,
        "ts_present": F.col("ts").isNotNull(),
    }
    return expectation_stats(ev, rules)


@register(
    "q_scd2_history",
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
                         lag(event_type) OVER w AS prev_type
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            f AS (SELECT user_id, event_type, ts, event_id,
                         sum(CASE WHEN prev_type IS NULL
                                       OR prev_type <> event_type
                                  THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS island
                  FROM o)
       SELECT user_id, event_type, version, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                  AS valid_to,
              n_events
       FROM (SELECT user_id, event_type,
                    CAST(island AS BIGINT) AS version,
                    min(ts) AS valid_from, count(*) AS n_events
             FROM f GROUP BY user_id, event_type, island)""",
    "Slowly-changing-dimension type-2 history: collapse an event log into "
    "per-key versioned intervals (a new version starts whenever the tracked "
    "attribute changes) — the standard warehouse op for 'what was this "
    "entity's state at time T'. Gaps-and-islands via lag + running count "
    "of change points; (ts, event_id) gives the total order that makes "
    "version numbering deterministic under timestamp ties. Both window "
    "passes and the final agg share the user_id partitioning: ONE shuffle "
    "end-to-end (pinned in tests/test_plans.py).",
)
def q_scd2_history(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    change = F.when(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")),
        1,
    ).otherwise(0)
    f = o.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(change)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    grouped = f.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    ).select(
        "user_id",
        "event_type",
        F.col("island").alias("version"),
        "valid_from",
        "n_events",
    )
    # valid_to = next version's start (NULL for the current/open interval);
    # lead keys on the same user_id partitioning — sort only, no new shuffle
    wv = Window.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id",
        "event_type",
        "version",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


# =========================================================================
# Paragraph-level dedup (C4/RefinedWeb boilerplate removal)
# =========================================================================


@register(
    "q_paragraph_dedup",
    """WITH p AS (SELECT doc_id, i AS pos,
                         array_to_string(list_slice(
                             string_split_regex(trim(text), '\\s+'),
                             i * 10 + 1, i * 10 + 10), ' ') AS para
                  FROM documents,
                       UNNEST(generate_series(0,
                           greatest((len(string_split_regex(trim(text),
                                                            '\\s+')) + 9) // 10,
                                    1) - 1)) AS t(i)),
            c AS (SELECT doc_id, pos, para,
                         count(*) OVER (PARTITION BY para) AS cnt
                  FROM p),
            d AS (SELECT doc_id, pos, para, cnt,
                         sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id) AS n_dropped
                  FROM c)
       SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS clean_text,
              count(*) AS n_kept,
              CAST(max(n_dropped) AS BIGINT) AS n_dropped
       FROM d WHERE cnt = 1
       GROUP BY doc_id""",
    "Paragraph-level corpus dedup (the C4/RefinedWeb boilerplate rule): "
    "chunk each doc into 10-token paragraphs, drop EVERY occurrence of any "
    "paragraph appearing more than once corpus-wide, reassemble the "
    "survivors in order (223 of 2497 paragraphs are naturally duplicated "
    "at sf0.01 — non-vacuous without synthesis; a doc losing all its "
    "paragraphs drops out entirely, in both engines, by construction). "
    "Shape: map-side chunk fan-out → paragraph-frequency shuffle → doc_id "
    "shuffle for drop-count + ordered reassembly (array_sort of "
    "(pos, para) structs — no assumption that collect_list preserves "
    "order). Two shuffle keys end-to-end; both are plain hash "
    "partitionings that scale with the corpus.",
)
def q_paragraph_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    w = X.tokens(F.col("text"))
    n_par = F.greatest(
        F.expr("(size(split(trim(text), '\\\\s+')) + 9) div 10"), F.lit(1)
    )
    paras = F.transform(
        F.sequence(F.lit(0), (n_par - 1).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(w, i * 10 + 1, 10)),
    )
    p = d.select("doc_id", F.posexplode(paras).alias("pos", "para"))
    c = p.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("para")))
    dd = c.withColumn(
        "n_dropped",
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).over(
            Window.partitionBy("doc_id")
        ),
    )
    kept = dd.filter(F.col("cnt") == 1)
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
        F.max("n_dropped").cast("long").alias("n_dropped"),
    )


@register(
    "q_incremental_dedup",
    """WITH batch AS (
           SELECT doc_id, lang, source, text FROM documents
           WHERE doc_id >= 400
           UNION ALL
           -- deterministic re-crawl: the first 50 corpus docs re-offered
           -- under new ingest ids (+1e6 band, same collision guard as
           -- q_dup_clusters)
           SELECT doc_id + 1000000, lang, source, text FROM documents
           WHERE doc_id < 50)
       SELECT n.doc_id, n.lang, n.source
       FROM batch n
       WHERE NOT EXISTS (SELECT 1 FROM documents c
                         WHERE c.doc_id < 400 AND md5(c.text) = md5(n.text))""",
    "Incremental corpus dedup: a NEW ingest batch — the novel docs "
    "(doc_id >= 400) plus a deterministic RE-CRAWL of the first 50 corpus "
    "docs under fresh ids — is admitted only where its content fingerprint "
    "is absent from the EXISTING corpus (doc_id < 400). The re-crawl half "
    "makes the anti-join non-vacuous (exactly those 50 are rejected); "
    "distinct from within-corpus q_exact_dedup. Keyed on md5(text): the "
    "corpus side can be a pre-materialized fingerprint table "
    "(32 bytes/doc, not the text), the anti-join is a plain hash shuffle "
    "on the digest, and left_anti never materializes the match.",
)
def q_incremental_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    corpus = d.filter(F.col("doc_id") < 400).select(
        F.md5(F.col("text")).alias("fp")
    )
    # re-crawl ids live in the +1e6 band; enforce the no-collision
    # precondition in-plan (the guard produces the output column, so
    # Catalyst cannot prune it — same pattern as q_dup_clusters)
    recrawl_id = F.when(
        F.col("doc_id") < 1_000_000, F.col("doc_id") + 1_000_000
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_incremental_dedup: doc_id >= 1_000_000 collides with "
                "the synthetic re-crawl id band — re-derive the offset"
            )
        ).cast("long")
    )
    batch = (
        d.filter(F.col("doc_id") >= 400)
        .select("doc_id", "lang", "source", "text")
        .unionAll(
            d.filter(F.col("doc_id") < 50).select(
                recrawl_id.alias("doc_id"), "lang", "source", "text"
            )
        )
    )
    new = batch.select(
        "doc_id", "lang", "source", F.md5(F.col("text")).alias("fp")
    )
    return new.join(corpus, "fp", "left_anti").select("doc_id", "lang", "source")


# =========================================================================
# Mergeable-sketch architecture: sharded HLL union
# =========================================================================


@register(
    "q_hll_shard_merge",
    """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
              TRUE AS merged_within_5pct
       FROM events""",
    "The sharded distinct-count architecture made explicit: per-shard "
    "Apache DataSketches HLL sketches (hll_sketch_agg over 8 hash shards "
    "of events.user_id) UNION-merged into one global estimate "
    "(hll_union_agg + hll_sketch_estimate) — how every warehouse computes "
    "COUNT(DISTINCT) incrementally: shard/partition sketches persist as "
    "bytes, re-aggregation merges sketches instead of rescanning raw data. "
    "DuckDB's HLL is a different algorithm, so the COMPARED columns are "
    "the exact distinct count (cross-checked) and a Spark-side attestation "
    "that the sharded-merged estimate landed within 5% of it (lgK=12 → "
    "~1.6% standard error; 5% ≈ 3 sigma; the sketch is hash-deterministic "
    "per dataset, so the boolean is stable). The union-merge ≡ single-pass "
    "bit-for-bit claim stays pinned in tests/test_extensions.py.",
)
def q_hll_shard_merge(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    shards = ev.groupBy(
        F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("shard")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    merged = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False)))
        .cast("long")
        .alias("distinct_users_est")
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return merged.crossJoin(exact).select(
        "exact_distinct",
        (
            F.abs(F.col("distinct_users_est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("merged_within_5pct"),
    )


# =========================================================================
# Type & SQL surface: remaining window funcs, collation, try-ops, DECIMAL
# =========================================================================


@register(
    "q_cume_dist_nth",
    """SELECT event_id, user_id,
              floor(cume_dist() OVER w * 1000000) / 1000000.0 AS cdist,
              CAST(round(nth_value(value, 2) OVER
                  (PARTITION BY user_id ORDER BY value, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  * 100) AS BIGINT) AS second_lowest_cents
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""",
    "The last two OVER-clause functions not yet pinned: cume_dist (peer-"
    "group cumulative fraction — (value, event_id) ordering makes every "
    "key unique, so the fraction is i/N of exact small integers, identical "
    "doubles in both engines, floor-truncated per SURVEY §7.4) and "
    "nth_value with an explicit full frame (the default frame stops at "
    "CURRENT ROW and would leave rows 1..n-1 NULL). One window shuffle on "
    "user_id.",
)
def q_cume_dist_nth(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(F.cume_dist().over(w) * 1000000) / 1000000.0).alias("cdist"),
        cents(F.nth_value("value", 2).over(wf)).alias("second_lowest_cents"),
    )


@register(
    "q_collated_group",
    """SELECT lower(mixed) AS source_lc, count(*) AS n
       FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source)
                         ELSE source END AS mixed
             FROM documents)
       GROUP BY lower(mixed)""",
    "Spark 4 COLLATION surface: grouping under UTF8_LCASE merges case "
    "variants engine-side — no lower() rewrite of the data. The fixture "
    "sources are all-lowercase, so a deterministic mixed-case variant "
    "(upper for even doc_ids) makes the merge non-vacuous; the grouped "
    "key's surviving case is engine-internal, so the output label is "
    "normalized with lower() AFTER grouping (deterministic either way). "
    "DuckDB oracle: group by lower() — provably the same partition for "
    "ASCII. One hash agg; collation support means the comparison happens "
    "in the hash function, not via a derived column.",
)
def q_collated_group(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mixed = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
    ).otherwise(F.col("source"))
    return (
        d.select(F.collate(mixed, "UTF8_LCASE").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("k")).alias("source_lc"), "n")
    )


@register(
    "q_try_arithmetic",
    """SELECT event_id,
              CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) = 50
                   THEN NULL
                   ELSE floor(value /
                        (CAST(json_extract_string(props, '$.k') AS INTEGER) - 50)
                        * 10000) / 10000.0
              END AS safe_ratio
       FROM events""",
    "ANSI-mode error-safe arithmetic: try_divide yields NULL on /0 instead "
    "of failing a long job on one poison row. The divisor "
    "(k - 50) crosses zero across the fixture, so the NULL arm is "
    "exercised; non-NULL results are one IEEE division of identical "
    "operands in both engines, floor-truncated. Narrow map, no shuffle.",
)
def q_try_arithmetic(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    ratio = F.try_divide(F.col("value"), (k - 50).cast("double"))
    return ev.select(
        "event_id",
        (F.floor(ratio * 10000) / 10000.0).alias("safe_ratio"),
    )


@register(
    "q_decimal_money",
    """SELECT o_orderstatus,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                   AS BIGINT) AS total_cents,
              count(*) AS n_orders,
              CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT)
                   // count(*) AS BIGINT) AS avg_cents_floor
       FROM orders GROUP BY o_orderstatus""",
    "DecimalType money arithmetic: cast 2-dp doubles to DECIMAL(18,2) at "
    "the scan (both engines round the same binary value onto the same "
    "2-dp decimal), then SUM is exact fixed-point at any row count — no "
    "summation-order nondeterminism, no int64 ceiling (Spark widens the "
    "accumulator internally). The COMPARED columns are exact integer "
    "cents (BIGINT): a DecimalType output column hash-failed two rounds "
    "for two different Arrow-precision representation reasons (Spark "
    "exports value-inferred decimal128(p,2), DuckDB the declared one) "
    "even with identical values — so the decimal stays internal, which "
    "is the point of the key, and the wire format is integer. One "
    "partial+final hash agg.",
)
def q_decimal_money(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy("o_orderstatus").agg(
        F.sum(dec).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return g.select(
        "o_orderstatus",
        F.expr("CAST(total_price * 100 AS BIGINT)").alias("total_cents"),
        "n_orders",
        F.expr("CAST(total_price * 100 AS BIGINT) div n_orders").alias(
            "avg_cents_floor"
        ),
    )


# =========================================================================
# Corpus curation, continued: vocab coverage, quality-percentile filter
# =========================================================================


@register(
    "q_vocab_coverage",
    """WITH cnt AS (SELECT tok, count(*) AS c
                    FROM (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                              AS tok
                          FROM documents)
                    GROUP BY tok),
            top AS (SELECT c FROM cnt ORDER BY c DESC, tok LIMIT 1000),
            tot AS (SELECT sum(c) AS t FROM cnt)
       SELECT CAST(count(*) AS BIGINT) AS vocab_size,
              CAST(sum(top.c) AS BIGINT) AS covered_tokens,
              CAST(t AS BIGINT) AS total_tokens,
              CAST(floor(sum(top.c) * 1000000.0 / t) AS BIGINT)
                  AS coverage_ppm
       FROM top, tot GROUP BY t""",
    "Vocabulary coverage — the measurement run before fitting any "
    "tokenizer: what fraction of all token occurrences the top-1000 "
    "types cover (Zipf mass). Word counts are one explode + hash agg on "
    "the token; the top-K is a TakeOrderedAndProject ((count DESC, token "
    "ASC) total order), and the coverage division folds two one-row "
    "aggregates — the dominant cost is the one wordcount shuffle, "
    "everything after is scalar.",
)
def q_vocab_coverage(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    cnt = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = cnt.orderBy(F.col("c").desc(), "tok").limit(1000)
    top_agg = top.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("covered_tokens"),
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("total_tokens"))
    return top_agg.crossJoin(tot).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.floor(F.col("covered_tokens") * 1000000.0 / F.col("total_tokens"))
        .cast("long")
        .alias("coverage_ppm"),
    )


#: DuckDB twin of functions.text.quality_score as a (doc_id, lang, q)
#: subquery — same floored arithmetic as the q_quality_score oracle
#: (queries_ext.py), with lang carried through for the grouped filter.
_QUALITY_SCORES_SQL = """
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             length(text) AS n_chars
      FROM documents
    ), f AS (
      SELECT doc_id, lang, n_chars, len(toks) AS n_tokens,
             len(list_filter(list_transform(toks, t -> lower(t)),
                 t -> list_contains(['the','a','of','and','to','is','in',
                                     'that','it','for'], t)))
                 AS n_stopwords,
             n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                 AS n_nonalnum,
             floor((n_chars - len(toks) + 1) * 10000.0 / len(toks)) / 10000.0
                 AS mean_word_len
      FROM t
    )
    SELECT doc_id, lang,
           floor(greatest(least(
               0.5 + least(floor(n_stopwords * 10000.0 / n_tokens)
                           / 10000.0 * 2, 0.3)
                   - least(floor(n_nonalnum * 10000.0 / n_chars)
                           / 10000.0 * 2, 0.4)
                   - CASE WHEN mean_word_len < 3 OR mean_word_len > 12
                          THEN 0.2 ELSE 0.0 END,
               1.0), 0.0) * 10000) / 10000.0 AS q
    FROM f
"""


@register(
    "q_quality_topfrac",
    f"""WITH s AS ({_QUALITY_SCORES_SQL}),
            thr AS (SELECT quantile_cont(q, 0.2) AS t FROM s)
       SELECT lang, count(*) AS n_total,
              CAST(sum(CASE WHEN q > t THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept
       FROM s, thr GROUP BY lang""",
    "Quality-percentile corpus filter: keep documents scoring above the "
    "corpus P20 of the deterministic quality heuristic — thresholding on "
    "a learned-or-heuristic quality score is the final gate of every "
    "curation pipeline, and the cut point must come from the DATA (a "
    "fixed constant drifts as the corpus changes). Exact "
    "percentile_cont over the floor-rounded scores: the interpolation "
    "runs the same IEEE ops on identical doubles in both engines. Plan: "
    "one score pass + a 1-row percentile aggregate broadcast back over "
    "the scores — the same two-pass broadcast-scalar shape as "
    "q_zscore_outlier.",
)
def q_quality_topfrac(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents", parallel=True)
    s = d.select("doc_id", "lang", quality_score(F.col("text")).alias("q"))
    thr = s.agg(F.percentile("q", F.lit(0.2)).alias("t"))
    return (
        s.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("q") > F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


# =========================================================================
# Gopher-style quality rules + reciprocal-rank fusion
# =========================================================================


@register(
    "q_gopher_rules",
    """WITH t AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS toks,
                length(text) AS n_chars,
                length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
                length(text)
                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                    AS n_nonalnum
         FROM documents
       ), f AS (
         SELECT doc_id, n_chars, word_chars, n_nonalnum,
                len(toks) AS n_tok,
                len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                    AS n_alpha,
                len(list_intersect(
                      list_distinct(list_transform(toks, w -> lower(w))),
                      ['the','be','to','of','and','that','have','with']))
                    AS n_stop
         FROM t
       )
       SELECT doc_id,
              CAST(n_tok AS BIGINT) AS n_tokens,
              (n_tok BETWEEN 10 AND 100000)         AS rule_word_count,
              (3 * n_tok <= word_chars
               AND word_chars <= 10 * n_tok)        AS rule_mean_word_len,
              (5 * n_alpha >= 4 * n_tok)            AS rule_alpha_words,
              (n_stop >= 2)                         AS rule_stopwords,
              (10 * n_nonalnum <= 3 * n_chars)      AS rule_symbol_ratio,
              ((n_tok BETWEEN 10 AND 100000)
               AND 3 * n_tok <= word_chars AND word_chars <= 10 * n_tok
               AND 5 * n_alpha >= 4 * n_tok
               AND n_stop >= 2
               AND 10 * n_nonalnum <= 3 * n_chars)  AS pass_gopher
       FROM f""",
    "Gopher-style repetition/quality rule battery (Rae et al. 2021 §A1.1, "
    "the C4/Gopher heuristic-filter stage of every curation pipeline): "
    "word-count bounds, mean-word-length in [3,10], ≥80% alphabetic words, "
    "≥2 distinct required stopwords, symbol ratio ≤0.3 — every rule "
    "evaluated as an exact INTEGER cross-multiplication (3*n_tok <= "
    "word_chars, 5*n_alpha >= 4*n_tok, ...) so there is no float division "
    "to drift between engines; per-doc booleans + the conjunction. "
    "Line-based Gopher rules (bullet/ellipsis fractions) are omitted: the "
    "documents fixture is single-line (verified). Scale: a narrow "
    "regex/array map over the scan, zero shuffles.",
)
def q_gopher_rules(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    toks = X.tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    word_chars = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    n_nonalnum = (
        n_chars - F.length(F.regexp_replace("text", r"[^A-Za-z0-9 ]", ""))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    stop = F.array(
        *[F.lit(s) for s in
          ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    n_stop = F.size(
        F.array_intersect(F.array_distinct(F.transform(toks, F.lower)), stop)
    ).cast("long")
    r_wc = (n_tok >= 10) & (n_tok <= 100000)
    r_mwl = (3 * n_tok <= word_chars) & (word_chars <= 10 * n_tok)
    r_alpha = 5 * n_alpha >= 4 * n_tok
    r_stop = n_stop >= 2
    r_sym = 10 * n_nonalnum <= 3 * n_chars
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        r_sym.alias("rule_symbol_ratio"),
        (r_wc & r_mwl & r_alpha & r_stop & r_sym).alias("pass_gopher"),
    )


@register(
    "q_rrf_fusion",
    f"""WITH s AS ({_QUALITY_SCORES_SQL}),
        r AS (
          SELECT s.doc_id,
                 row_number() OVER (ORDER BY s.q DESC, s.doc_id) AS r_quality,
                 row_number() OVER (ORDER BY d.n_chars DESC, s.doc_id)
                     AS r_length
          FROM s JOIN documents d USING (doc_id)
        )
        SELECT doc_id, r_quality, r_length,
               1.0 / (60 + r_quality) + 1.0 / (60 + r_length) AS rrf
        FROM r ORDER BY rrf DESC, doc_id LIMIT 50""",
    "Reciprocal-rank fusion (Cormack et al. 2009) of two document rankings "
    "— the standard way to merge lexical and semantic retrieval lists in "
    "a RAG/training-data pipeline: rank docs by quality score and by "
    "length (both ties broken by doc_id for a total order), fuse with "
    "RRF(k=60) = sum 1/(k+rank), take the top 50. The score is two "
    "correctly-rounded IEEE divisions plus one add — bit-identical in any "
    "engine (no libm transcendentals), so the float column hash-checks. "
    "Scale: BOTH global rankings run through operators.topk."
    "global_row_number — the TeraSort-style range-partitioned sort + "
    "broadcast partition offsets — never the single-partition sort that "
    "an empty-partitionBy window plans; the final top-50 is "
    "TakeOrderedAndProject (plan-pinned).",
)
def q_rrf_fusion(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.text import quality_score
    from real_time_rides_data_pipeline_spark.operators.topk import (
        global_row_number,
    )

    d = _t(spark, sf_dir, "documents", parallel=True)
    s = d.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        # rank DESC through an ascending ranker: negate the sort keys
        (-F.col("n_chars")).alias("__len_neg"),
    ).withColumn("__q_neg", -F.col("q"))
    r = global_row_number(s, ["__q_neg", "doc_id"], out_col="r_quality")
    r = global_row_number(r, ["__len_neg", "doc_id"], out_col="r_length")
    return (
        r.select(
            "doc_id",
            F.col("r_quality").cast("long").alias("r_quality"),
            F.col("r_length").cast("long").alias("r_length"),
            (
                F.lit(1.0) / (F.lit(60) + F.col("r_quality"))
                + F.lit(1.0) / (F.lit(60) + F.col("r_length"))
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(50)
    )


# =========================================================================
# Span-level exact dedup + corpus-fit char-bigram coverage
# =========================================================================


@register(
    "q_dup_spans",
    """WITH t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), s AS (
         SELECT doc_id,
                [concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4],
                                w[i+5], w[i+6], w[i+7], w[i+8])
                 for i in range(len(w) - 7)] AS sp
         FROM t
       ), e AS (
         SELECT doc_id, unnest(sp) AS span FROM s
       ), g AS (
         SELECT span, doc_id, count(*) AS pos FROM e GROUP BY span, doc_id
       ), g2 AS (
         SELECT doc_id, pos,
                count(*) OVER (PARTITION BY span) AS ndocs
         FROM g
       ), dup AS (
         SELECT doc_id,
                CAST(sum(CASE WHEN ndocs >= 2 THEN pos ELSE 0 END) AS BIGINT)
                    AS n_dup
         FROM g2 GROUP BY doc_id
       )
       SELECT s.doc_id,
              CAST(len(sp) AS BIGINT) AS n_spans,
              CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
              (len(sp) > 0 AND 5 * coalesce(d.n_dup, 0) >= len(sp))
                  AS flag_dup_heavy
       FROM s LEFT JOIN dup d USING (doc_id)""",
    "Span-level exact duplication profile (Lee et al. 2021, 'Deduplicating "
    "Training Data Makes Language Models Better' — ExactSubstr at shingle "
    "grain): every positional 8-token span, a span is DUPLICATED iff the "
    "identical token sequence occurs in >= 2 distinct documents; per doc "
    "emit total spans, duplicated-span positions, and the >=20% "
    "dup-heavy flag via integer cross-multiplication (5*n_dup >= n_spans "
    "— no float division). Lee et al.'s suffix array finds variable-length "
    "repeats; the fixed-grain shingle profile is the shuffle-friendly "
    "form (their own MapReduce fallback) and upper-bounds the same spans. "
    "Scale: positional spans are scan-side array lambdas (no distinct — "
    "positions matter); then 3 compact-aggregate shuffles: (span, doc) "
    "partial-count, a per-span window over that aggregate (never the raw "
    "positions), per-doc rollup joined back to the doc-level span counts "
    "on doc_id. The raw-string grouping keeps the oracle exact; "
    "xxhash64 keys would shrink the shuffle to 8 bytes per span "
    "(identical plan, collision odds ~n^2/2^64).",
)
def q_dup_spans(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.textdedup import (
        dup_span_profile,
    )

    d = _t(spark, sf_dir, "documents", parallel=True)
    return dup_span_profile(d, n=8)


def _char_bigrams(col):
    """Positional char-bigram array (scan-side, no explode): substring at
    every offset. Guarded for len<2 (empty array) though the fixture's
    min doc length is far above it."""
    return F.when(
        F.length(col) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(col) - 1),
            lambda i: col.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _fitted_bigram_vocab(d) -> list[str]:
    """Corpus-wide top-64 char bigrams by (count DESC, bigram ASC) — a
    deterministic total order, so the fit is replayable. The collect is
    BOUNDED (64 two-char strings, ~128 bytes) — the fit-small/
    broadcast-big shape shared with bloom words and k-means centroids.
    Refit on EVERY call: no module-level memo of data-derived results —
    each bench/oracle invocation computes from the parquet inputs."""
    rows = (
        d.select(F.explode(_char_bigrams(F.col("text"))).alias("g"))
        .groupBy("g")
        .count()
        .orderBy(F.col("count").desc(), F.col("g"))
        .limit(64)
        .collect()
    )
    return [r["g"] for r in rows]


@register(
    "q_charlm_coverage",
    """WITH b AS (
         SELECT doc_id,
                [substring(text, i + 1, 2)
                 for i in range(len(text) - 1)] AS bg
         FROM documents
       ), e AS (
         SELECT unnest(bg) AS g FROM b
       ), v AS (
         SELECT g FROM e GROUP BY g ORDER BY count(*) DESC, g LIMIT 64
       ), vl AS (
         SELECT list(g) AS gs FROM v
       )
       SELECT doc_id,
              CAST(len(bg) AS BIGINT) AS n_bigrams,
              CAST(len(list_filter(bg, x -> list_contains(vl.gs, x)))
                   AS BIGINT) AS n_in_vocab,
              CASE WHEN len(bg) = 0 THEN NULL
                   ELSE (1000000 * len(list_filter(bg,
                            x -> list_contains(vl.gs, x)))) // len(bg)
              END AS coverage_ppm
       FROM b, vl""",
    "Corpus-fit character-LM coverage score — the cheap statistical-LM "
    "stand-in for perplexity filtering (CCNet/KenLM stage of curation "
    "pipelines; perplexity needs log-probs whose libm evaluation diverges "
    "between engines, so the score is the exact INTEGER in-vocabulary "
    "rate instead): pass 1 fits the corpus top-64 char bigrams by (count "
    "DESC, bigram ASC) — a deterministic total order; pass 2 scores every "
    "doc scan-side as in-vocab bigram positions and a floor ppm via "
    "integer division. Fit-small/broadcast-big: the fit collects 64 "
    "two-char strings (bounded, memoized per sf_dir — same shape as "
    "bloom words / k-means centroids) and embeds them as an isin literal "
    "list, so the SCORING plan is a zero-shuffle narrow map; the fit "
    "itself is one hash aggregate + TakeOrdered over the bigram explode.",
)
def q_charlm_coverage(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    vocab = _fitted_bigram_vocab(d)
    bg = _char_bigrams(F.col("text"))
    n_in = F.size(F.filter(bg, lambda b: b.isin(*vocab))).cast("long")
    return (
        d.select(
            "doc_id",
            F.size(bg).cast("long").alias("n_bigrams"),
            n_in.alias("n_in_vocab"),
        )
        .withColumn(
            "coverage_ppm",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("(1000000 * n_in_vocab) div n_bigrams"),
            ),
        )
    )


# =========================================================================
# URL canonicalization + per-URL dedup (web-corpus curation stage 1)
# =========================================================================


@register(
    "q_url_canon_dedup",
    """WITH u AS (
         SELECT doc_id,
                doc_id // 4 AS base_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'https://src' || (doc_id // 4) % 20
                           || '.example.com/p/' || doc_id // 4
                  WHEN 1 THEN 'HTTPS://SRC' || (doc_id // 4) % 20
                           || '.EXAMPLE.COM:443/p/' || doc_id // 4
                  WHEN 2 THEN 'https://src' || (doc_id // 4) % 20
                           || '.example.com/p/' || doc_id // 4
                           || '?utm_source=feed&utm_campaign=c1#frag'
                  ELSE 'Https://src' || (doc_id // 4) % 20
                           || '.example.com:443/p/' || doc_id // 4 || '/'
                END AS url
         FROM documents
       ), c AS (
         SELECT doc_id, base_id,
                regexp_replace(
                  lower(regexp_extract(u4, '^([^/]+://[^/]+)', 1))
                    || regexp_extract(u4, '^[^/]+://[^/]+(.*)$', 1),
                  '([^/])/$', '\\1') AS canon_url
         FROM (
           SELECT doc_id, base_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(url, '#.*$', ''),
                        '[?&](utm_[A-Za-z]*|fbclid)=[^&#]*', '', 'g'),
                      '\\?$', ''),
                    ':(443|80)/', '/', 'g') AS u4
           FROM u)
       )
       SELECT canon_url,
              CAST(count(*) AS BIGINT) AS n_variants,
              min(doc_id) AS keeper_doc_id
       FROM c GROUP BY canon_url""",
    "URL canonicalization + per-URL dedup — the first stage of every "
    "web-corpus pipeline (CommonCrawl WARC dedup keys on canonical URL "
    "before any content hashing): lowercase scheme+host, strip default "
    "ports (:80/:443), drop tracking params (utm_*/fbclid) and fragments, "
    "strip the trailing slash, then keep ONE doc per canonical URL "
    "(min doc_id) with the variant count. The fixture has no real URLs, "
    "so four deterministic mess classes (canonical / SHOUTING host + "
    "default port / tracking params + fragment / mixed-case scheme + "
    "trailing slash) are synthesized per doc_id group of 4 and must "
    "collapse 4->1. Pure regex/concat narrow map + ONE hash aggregate on "
    "the canonical key — the same shape at any corpus size; the param "
    "surgery is deliberately the simple global-regex form (the synthetic "
    "URLs carry only tracking params; production keeps an allowlist "
    "parser).",
)
def q_url_canon_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    base = F.expr("doc_id div 4")
    host_n = (base % 20).cast("string")
    b = base.cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://src"), host_n,
                     F.lit(".example.com/p/"), b),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("HTTPS://SRC"), host_n,
                     F.lit(".EXAMPLE.COM:443/p/"), b),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://src"), host_n,
                     F.lit(".example.com/p/"), b,
                     F.lit("?utm_source=feed&utm_campaign=c1#frag")),
        )
        .otherwise(
            F.concat(F.lit("Https://src"), host_n,
                     F.lit(".example.com:443/p/"), b, F.lit("/")),
        )
    )
    u4 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(url, r"#.*$", ""),
                r"[?&](utm_[A-Za-z]*|fbclid)=[^&#]*", "",
            ),
            r"\?$", "",
        ),
        r":(443|80)/", "/",
    )
    canon = F.regexp_replace(
        F.concat(
            F.lower(F.regexp_extract(u4, r"^([^/]+://[^/]+)", 1)),
            F.regexp_extract(u4, r"^[^/]+://[^/]+(.*)$", 1),
        ),
        r"([^/])/$", r"$1",
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "q_span_novelty",
    """WITH t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), s AS (
         SELECT doc_id,
                [concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4],
                                w[i+5], w[i+6], w[i+7], w[i+8])
                 for i in range(len(w) - 7)] AS sp
         FROM t
       ), e AS (
         SELECT doc_id, unnest(sp) AS span FROM s
       ), g AS (
         SELECT span, doc_id, count(*) AS pos FROM e GROUP BY span, doc_id
       ), g2 AS (
         SELECT doc_id, pos,
                min(doc_id) OVER (PARTITION BY span) AS first_doc
         FROM g
       ), nov AS (
         SELECT doc_id,
                CAST(sum(CASE WHEN doc_id = first_doc THEN pos ELSE 0 END)
                     AS BIGINT) AS nv
         FROM g2 GROUP BY doc_id
       )
       SELECT s.doc_id,
              CAST(len(sp) AS BIGINT) AS n_spans,
              CAST(coalesce(n.nv, 0) AS BIGINT) AS n_novel_spans,
              CASE WHEN len(sp) > 0
                   THEN (1000000 * coalesce(n.nv, 0)) // len(sp)
              END AS novelty_ppm
       FROM s LEFT JOIN nov n USING (doc_id)""",
    "Span-level NOVELTY profile — the first-occurrence complement of "
    "q_dup_spans for ingestion-ordered corpora (growing-corpus curation: "
    "how much of an incoming doc is new text vs already-ingested spans, "
    "the admission metric behind dedup-aware crawling): a span position "
    "is NOVEL iff no smaller doc_id contains the same 8-token sequence — "
    "the minimum-id owner keeps all its positions. novelty_ppm is an "
    "exact integer floor division; same three compact-aggregate shuffles "
    "as the dup profile with min(doc_id) replacing the distinct-doc "
    "count in the per-span window (operators/textdedup.py "
    "span_novelty_profile, property-tested against brute force).",
)
def q_span_novelty(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.textdedup import (
        span_novelty_profile,
    )

    d = _t(spark, sf_dir, "documents", parallel=True)
    return span_novelty_profile(d, n=8)


# =========================================================================
# Inverted index build (retrieval-side corpus structure)
# =========================================================================


@register(
    "q_inverted_index",
    r"""WITH tok AS (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents
       ), td AS (
         SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY term, doc_id
       ), stats AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df,
                CAST(sum(tf) AS BIGINT) AS cf
         FROM td GROUP BY term
       ), top AS (
         SELECT term, doc_id, tf,
                row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, doc_id) AS rn
         FROM td
       ), post AS (
         SELECT term,
                string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings
         FROM top WHERE rn <= 8 GROUP BY term
       )
       SELECT s.term, s.df, s.cf, p.postings
       FROM stats s JOIN post p USING (term)
       ORDER BY s.df DESC, s.term LIMIT 100""",
    "INVERTED INDEX build — the retrieval-side corpus structure BM25 "
    "scoring (q_bm25_topk) presupposes but no key materialized: per "
    "term, document frequency, collection frequency, and the top-8 "
    "postings as a comma-joined 'doc:tf' STRING ordered by (tf DESC, "
    "doc_id) — the impact-ordered postings truncation real sparse "
    "indexes ship (Elastic/Lucene impact lists). Postings are emitted "
    "as a flat string, NOT ArrayType: the driver comparator "
    "canonicalizes via pandas sort_values, which cannot order "
    "list-typed cells (the q_array_agg failure class) — "
    "array_join is lossless here because entries are 'doc:tf' tokens "
    "with no embedded commas and the order is already deterministic. "
    "Deterministic assembly via sort_array(collect_list(struct(rn, "
    "entry))) — never relying on collect_list order. Output = top-100 "
    "terms by (df DESC, term), a TakeOrderedAndProject. Shape: "
    "tokenize (narrow map) → (term, doc) hash agg → per-term stats agg "
    "+ one rank window over the COMPRESSED (term, doc) table, "
    "equi-join on term — the index build is two map-side-combined "
    "shuffles at any corpus size; postings truncation bounds every "
    "group's output at 8.",
)
def q_inverted_index(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    tok = d.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("term")
    )
    td = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    wr = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id")
    )
    post = (
        td.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 8)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "rn",
                                F.concat_ws(
                                    ":", F.col("doc_id"), F.col("tf")
                                ).alias("entry"),
                            )
                        )
                    ),
                    lambda x: x["entry"],
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        stats.join(post, "term")
        .orderBy(F.col("df").desc(), "term")
        .limit(100)
    )


# =========================================================================
# Dataset card — the one-row corpus summary every released
# training set ships (composition, size, duplication; Datasheets for
# Datasets / model-card practice)
# =========================================================================


@register(
    "q_dataset_card",
    r"""WITH base AS (
         SELECT doc_id, text, lang, n_chars,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                    AS n_tokens
         FROM documents
       ), tot AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
                CAST((count(*) - count(DISTINCT text)) * 1000000
                     // count(*) AS BIGINT) AS exact_dup_ppm
         FROM base
       ), top AS (
         SELECT lang AS top_lang,
                CAST(count(*) AS BIGINT) AS top_lang_docs
         FROM base GROUP BY lang
         ORDER BY count(*) DESC, lang LIMIT 1
       )
       SELECT t.n_docs, t.n_langs, t.total_tokens, t.mean_chars,
              t.exact_dup_ppm, p.top_lang,
              CAST(p.top_lang_docs * 1000000 // t.n_docs AS BIGINT)
                  AS top_lang_ppm
       FROM tot t, top p""",
    "DATASET CARD: the one-row corpus summary a released training set "
    "ships (Datasheets-for-Datasets practice) — document count, language "
    "count, dominant language and its corpus share, total whitespace "
    "tokens, mean chars, and the exact-duplicate rate (1 − distinct "
    "texts / docs) in ppm. Composes the per-key metrics the registry "
    "already checks one level down (q_lang_id, q_token_count, "
    "q_exact_dedup) into the artifact users actually read. All integer "
    "ppm/floor-div. Shape: ONE documents scan compresses to distinct "
    "(text, lang) groups — tokenization runs once per distinct text, "
    "not per doc — then a |langs|-row re-agg (top language via TopK-1) "
    "and a 1-row global re-agg cross-join broadcast; nothing after the "
    "first aggregate exceeds the distinct-text domain.",
)
def q_dataset_card(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    # one scan: compress to distinct (text, lang); every downstream stat
    # re-aggregates this compressed frame
    g = d.groupBy("text", "lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_chars").alias("chars"),
    )
    g = g.withColumn(
        "n_tokens", F.size(X.tokens(F.col("text"))).cast("long")
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("cnt").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.col("cnt") * F.col("n_tokens")).alias("total_tokens"),
        F.expr("sum(chars) div sum(cnt)").alias("mean_chars"),
        F.expr(
            "((sum(cnt) - count(DISTINCT text)) * 1000000) div sum(cnt)"
        ).alias("exact_dup_ppm"),
    )
    top = (
        g.groupBy("lang")
        .agg(F.sum("cnt").alias("top_lang_docs"))
        .orderBy(F.col("top_lang_docs").desc(), "lang")
        .limit(1)
        .withColumnRenamed("lang", "top_lang")
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "n_langs",
        "total_tokens",
        "mean_chars",
        "exact_dup_ppm",
        "top_lang",
        F.expr("(top_lang_docs * 1000000) div n_docs").alias("top_lang_ppm"),
    )


# =========================================================================
# Deterministic mixing SCHEDULE — q_dataset_mix decides HOW MANY
# copies of each source enter the mix; this key decides WHERE in the
# training order they land (exact-rational pacing, no RNG)
# =========================================================================


@register(
    "q_mix_schedule",
    """WITH a AS (
         SELECT doc_id, 'even3' AS src,
                row_number() OVER (ORDER BY doc_id) AS rn
         FROM documents WHERE doc_id % 2 = 0
       ), b AS (
         SELECT doc_id, 'odd1' AS src,
                row_number() OVER (ORDER BY doc_id) AS rn
         FROM documents WHERE doc_id % 2 = 1
       ), u AS (
         SELECT doc_id, src, rn, rn * 4 AS pace FROM a
         UNION ALL
         SELECT doc_id, src, rn, rn * 12 AS pace FROM b
       )
       SELECT CAST(row_number() OVER (ORDER BY pace, src, rn) AS BIGINT)
                  AS pos,
              src, doc_id, CAST(pace AS BIGINT) AS pace
       FROM u
       ORDER BY pos LIMIT 200""",
    "Deterministic INTERLEAVE SCHEDULE at a 3:1 source ratio — the "
    "training-order counterpart of q_dataset_mix (which fixes copy "
    "COUNTS; a trainer also needs a reproducible ORDER so every rerun/"
    "resume sees the identical batch sequence). Exact-rational pacing, "
    "no RNG: source row i is paced at i·(L/w) with L = lcm-scale 12 "
    "(3-weighted source every 4 units, 1-weighted every 12), global "
    "position = rank over (pace, src, rn) — in any window of 12 pace "
    "units the 3:1 ratio holds exactly, and the schedule is a pure "
    "function of (doc_id, weight table): a backfill reproduces the "
    "byte-identical training order. First 200 positions emitted. Shape: "
    "ONE documents scan, ONE per-source row_number window (partitioned "
    "by parity — never a global unpartitioned window over the corpus), "
    "then TopK-200 by pace (TakeOrderedAndProject per-partition heaps) "
    "BEFORE the position stamp, so the only single-partition window "
    "runs over 200 rows by construction.",
)
def q_mix_schedule(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    par = (F.col("doc_id") % 2).alias("par")
    wsrc = Window.partitionBy("par").orderBy("doc_id")
    u = (
        d.select("doc_id", par)
        .withColumn("rn", F.row_number().over(wsrc))
        .select(
            "doc_id",
            F.when(F.col("par") == 0, F.lit("even3"))
            .otherwise(F.lit("odd1"))
            .alias("src"),
            "rn",
            (
                F.col("rn").cast("long")
                * F.when(F.col("par") == 0, F.lit(4)).otherwise(F.lit(12))
            ).alias("pace"),
        )
    )
    head = u.orderBy("pace", "src", "rn").limit(200)
    wpos = Window.orderBy("pace", "src", "rn")
    return head.select(
        F.row_number().over(wpos).cast("long").alias("pos"),
        "src",
        "doc_id",
        "pace",
    )


# =========================================================================
# Rare-category collapse (vocabulary truncation / UNK bucket) —
# the long-tail featurizer next to q_feature_hash (hashing trick) and
# q_target_encode (smoothed encoding)
# =========================================================================


@register(
    "q_rare_collapse",
    """WITH g AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cat,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY cat
       ), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM g)
       SELECT CASE WHEN g.n * 10000 >= t.n_all THEN g.cat ELSE -1 END
                  AS category,
              CAST(sum(g.n) AS BIGINT) AS n_events,
              CAST(count(*) AS BIGINT) AS n_source_values
       FROM g, t
       GROUP BY category""",
    "RARE-CATEGORY COLLAPSE (the UNK bucket): feature values carrying "
    "< 0.01% of the mass fold into one -1 category; frequent values pass "
    "through with their exact counts, and n_source_values records how "
    "many raw values each output category absorbed (1 for pass-through, "
    "the tail size for -1). The vocabulary-truncation move every "
    "categorical featurizer and tokenizer vocab build makes before "
    "training — completing the long-tail trio with q_feature_hash "
    "(hashing trick, collisions accepted) and q_target_encode (smoothed "
    "toward prior). Threshold integerized (n·10000 ≥ N — no doubles). "
    "Shape: one map-side-combined agg to the VALUE DOMAIN, one broadcast "
    "scalar, one re-agg over domain rows — the fact table is scanned "
    "once and nothing downstream scales with N.",
)
def q_rare_collapse(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    g = (
        ev.select(cents(F.col("value")).alias("cat"))
        .groupBy("cat")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.withColumn("n_all", F.sum("n").over(w_all))
    return (
        g.select(
            F.when(F.col("n") * 10000 >= F.col("n_all"), F.col("cat"))
            .otherwise(F.lit(-1))
            .alias("category"),
            "n",
        )
        .groupBy("category")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_source_values"),
        )
    )


# =========================================================================
# Readability scoring — Flesch reading ease /
# Flesch-Kincaid grade with a portable vowel-cluster syllable proxy
# =========================================================================


@register(
    "q_readability",
    """WITH t AS (
         SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                    AS words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                     AS BIGINT) AS sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     AS BIGINT) AS syllables
         FROM documents
       )
       SELECT doc_id, words, sentences, syllables,
              CAST(floor((206.835
                          - 1.015 * (words::DOUBLE / sentences)
                          - 84.6 * (syllables::DOUBLE / words)) * 10000)
                   AS BIGINT) AS flesch_e4,
              CAST(floor((0.39 * (words::DOUBLE / sentences)
                          + 11.8 * (syllables::DOUBLE / words)
                          - 15.59) * 10000) AS BIGINT) AS fk_grade_e4
       FROM t""",
    "READABILITY scoring per document: Flesch reading ease + "
    "Flesch-Kincaid grade level — the classic text-quality/complexity "
    "features every corpus-curation pipeline computes next to "
    "q_quality_score's heuristics and q_gopher_rules' hard gates. "
    "Syllables use the standard portable proxy: maximal vowel clusters "
    "[aeiouy]+ per document (regexp_count — a deterministic regular "
    "language, identical under Java regex and RE2-family engines); "
    "words reuse the whitespace-token contract shared with "
    "q_text_stats; sentences are [.!?]+ runs floored at 1 so empty/"
    "unpunctuated docs stay defined. All three counts are EXACT "
    "integers, the two scores are one identical literal-coefficient "
    "double tree per engine, floored to e4. Shape: pure scan-side map "
    "(three regexp passes per row, no shuffle at all) -> row-level "
    "output; the cheapest possible shape.",
)
def q_readability(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    t = d.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("long")
        .alias("syllables"),
    )
    ws = F.col("words").cast("double") / F.col("sentences")
    sw = F.col("syllables").cast("double") / F.col("words")
    return t.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.floor((206.835 - 1.015 * ws - 84.6 * sw) * 10000)
        .cast("long")
        .alias("flesch_e4"),
        F.floor((0.39 * ws + 11.8 * sw - 15.59) * 10000)
        .cast("long")
        .alias("fk_grade_e4"),
    )


# =========================================================================
# Dedup survivorship — keep the best copy by source
# priority, not the first by id (the MDM/curation survivorship policy)
# =========================================================================


@register(
    "q_dedup_survivorship",
    """WITH ranked AS (
         SELECT doc_id, text, source,
                CASE source WHEN 'wiki' THEN 1 WHEN 'news' THEN 2
                            WHEN 'web' THEN 3 ELSE 4 END AS prio,
                row_number() OVER (
                    PARTITION BY md5(text)
                    ORDER BY CASE source WHEN 'wiki' THEN 1
                                         WHEN 'news' THEN 2
                                         WHEN 'web' THEN 3 ELSE 4 END,
                             doc_id) AS rn,
                CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                    AS n_copies
         FROM documents
       )
       SELECT doc_id, source, CAST(prio AS BIGINT) AS prio, n_copies
       FROM ranked WHERE rn = 1""",
    "DEDUP SURVIVORSHIP: within each exact-duplicate group, keep the "
    "copy from the highest-priority source (wiki > news > web > other, "
    "tie-broken by doc_id) and report how contested it was — the "
    "master-data survivorship policy that separates production corpus "
    "dedup from q_exact_dedup's neutral keep-first-by-id (when the same "
    "text was crawled from three places, WHICH copy survives decides "
    "the provenance, license, and metadata of the training example). "
    "Grouping keys on md5(text) rather than raw text so the shuffle "
    "moves 16-byte keys instead of document bodies — the same "
    "fingerprint-shuffle discipline as q_exact_dedup; the rank window "
    "and the group-size count share one partitioning. Shape: one "
    "documents scan -> fingerprint-keyed window (single shuffle) -> "
    "filter rn=1; the state per group is one row.",
)
def q_dedup_survivorship(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    prio = (
        F.when(F.col("source") == "wiki", 1)
        .when(F.col("source") == "news", 2)
        .when(F.col("source") == "web", 3)
        .otherwise(4)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("prio", "doc_id")
    w_all = Window.partitionBy(F.md5("text"))
    ranked = d.select(
        "doc_id", "text", "source", prio.alias("prio")
    ).select(
        "doc_id",
        "source",
        "prio",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "source",
        F.col("prio").cast("long").alias("prio"),
        "n_copies",
    )


# =========================================================================
# Tokenizer fertility, mergeable-histogram quantiles,
# deterministic contrastive negative sampling
# =========================================================================


@register(
    "q_tokenizer_fertility",
    r"""WITH per AS (
         SELECT lang,
                CAST(len(regexp_split_to_array(trim(text), '\s+'))
                     AS BIGINT) AS w,
                CAST(list_sum(list_transform(
                       regexp_split_to_array(trim(text), '\s+'),
                       x -> greatest((length(x) + 3) // 4, 1)))
                     AS BIGINT) AS t
         FROM documents
       )
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(w) AS BIGINT) AS words,
              CAST(sum(t) AS BIGINT) AS tokens,
              CAST(sum(t) * 1000000 // sum(w) AS BIGINT)
                  AS fertility_ppm
       FROM per GROUP BY lang""",
    "TOKENIZER FERTILITY by language — subword tokens per whitespace "
    "word, THE standard multilingual-tokenizer health metric (a language "
    "whose fertility is 2-3x English's pays that factor in context "
    "window and training compute; reported per-language in every "
    "multilingual LLM card). Token counts use the shared deterministic "
    "BPE-ish proxy (functions/text.bpe_ish_token_count: per word "
    "ceil(len/4), min 1 — exact integers; the oracle's (len+3)//4 is "
    "the same value since len < 2^50), words the shared whitespace "
    "split. fertility_ppm is ONE exact-integer floor division per "
    "language. Shape: narrow scan-side array lambdas (no Python, no "
    "explode — the per-doc counts fold inside whole-stage codegen) -> "
    "one hash agg on the BOUNDED lang domain -> one row per language. "
    "It is a single map-side-combined pass.",
)
def q_tokenizer_fertility(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    per = d.select(
        "lang",
        X.token_count(F.col("text")).cast("long").alias("w"),
        X.bpe_ish_token_count(F.col("text")).alias("t"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("t").alias("tokens"),
    )
    return g.select(
        "lang",
        "n_docs",
        "words",
        "tokens",
        F.expr("tokens * 1000000 div words").alias("fertility_ppm"),
    )


@register(
    "q_histogram_quantile_merge",
    """WITH b AS (
         SELECT event_id % 16 AS shard,
                CAST(round(value * 100) AS BIGINT) // 500 AS bin,
                count(*) AS n
         FROM events
         GROUP BY shard, bin
       ), m AS (
         SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM b GROUP BY bin
       ), c AS (
         SELECT bin, n,
                sum(n) OVER (ORDER BY bin) AS cum,
                sum(n) OVER () AS total
         FROM m
       )
       SELECT CAST(min(total) AS BIGINT) AS n_total,
              CAST(count(*) AS BIGINT) AS n_bins,
              CAST(min(CASE WHEN 2 * cum >= total THEN bin * 500 END)
                   AS BIGINT) AS p50_est_cents,
              CAST(min(CASE WHEN 10 * cum >= 9 * total THEN bin * 500 END)
                   AS BIGINT) AS p90_est_cents,
              CAST(min(CASE WHEN 100 * cum >= 99 * total THEN bin * 500 END)
                   AS BIGINT) AS p99_est_cents
       FROM c""",
    "MERGEABLE-HISTOGRAM QUANTILES — the distributed-sketch pattern for "
    "percentiles: each shard builds a small fixed-bin "
    "histogram (bin = cents div 500, a BOUNDED domain: ~99 bins for "
    "this fixture's 1-49002 cent range), histograms MERGE by summing "
    "per-bin counts (the q_hll_shard_merge property, for quantiles), "
    "and the quantile estimate reads the merged cumulative curve at the "
    "bin edge — error bounded by bin width (500 cents) by "
    "construction. The quantile pick is an exact-integer cross- "
    "multiplied threshold (2*cum >= total etc) — no doubles anywhere. "
    "Shape: two-level hash agg (per-shard then merged; map-side "
    "combine does the shard level for free) -> windows over the "
    "BOUNDED bin domain -> 1 row. The exact-semantics siblings are "
    "q_percentile_disc (tiny data) and q_approx_quantile (the "
    "GK-sketch scale path); this key pins the merge algebra itself.",
)
def q_histogram_quantile_merge(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    b = (
        ev.select(
            (F.col("event_id") % 16).alias("shard"),
            cents(F.col("value")).alias("value_cents"),
        )
        # integral `div` on both legs (Spark `div` ≡ DuckDB `//`: both
        # truncate toward zero) — float-div-then-cast drifts for
        # negative or >2^53 cents (same fix as q_patchify_meta).
        .select("shard", F.expr("value_cents div 500").alias("bin"))
        .groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = b.groupBy("bin").agg(F.sum("n").alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = m.select(
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    return c.agg(
        F.min("total").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("total"), F.col("bin") * 500)
        ).cast("long").alias("p50_est_cents"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("bin") * 500)
        ).cast("long").alias("p90_est_cents"),
        F.min(
            F.when(
                100 * F.col("cum") >= 99 * F.col("total"), F.col("bin") * 500
            )
        ).cast("long").alias("p99_est_cents"),
    )


@register(
    "q_negative_sample",
    """WITH pool AS (
         SELECT doc_id, source
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
       ), q AS (
         SELECT doc_id, source FROM documents WHERE doc_id % 10 = 0
       ), cand AS (
         SELECT q.doc_id AS query_id, p.doc_id AS neg_id,
                row_number() OVER (
                  PARTITION BY q.doc_id
                  ORDER BY md5(concat(q.doc_id, '-', p.doc_id)), p.doc_id
                ) AS rnk
         FROM q JOIN pool p
           ON p.source <> q.source AND p.doc_id <> q.doc_id
       )
       SELECT query_id, neg_id, CAST(rnk AS BIGINT) AS rnk
       FROM cand WHERE rnk <= 4""",
    "DETERMINISTIC NEGATIVE SAMPLING for contrastive training — for "
    "each query document, k=4 pseudo-random negatives drawn from a "
    "hash-defined corpus sample, excluding same-source candidates "
    "(in-batch negatives from the query's own source are the classic "
    "false-negative hazard). The scale design is the point: negatives "
    "come from a BOUNDED BROADCAST pool (md5 first-hex-digit = '0', a "
    "deterministic ~1/16 corpus sample — more digits cap a larger "
    "pool), never a corpus x corpus cross join; per-query "
    "ranking is md5(query-cand) — the seeded-rand discipline of "
    "SURVEY §4.3.2, bit-identical across engines, tie-broken by "
    "candidate id. Shape: one documents scan splits into pool (tiny, "
    "broadcast) and queries; one broadcast theta-join (|Q| x |pool|); "
    "one per-query top-k window partitioned by query_id.",
)
def q_negative_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", "source"
    )
    pool = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    ).select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_src")
    )
    q = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("source").alias("q_src")
    )
    cand = q.join(
        F.broadcast(pool),
        (F.col("neg_src") != F.col("q_src"))
        & (F.col("neg_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.md5(F.concat(F.col("query_id"), F.lit("-"), F.col("neg_id"))),
        "neg_id",
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .select("query_id", "neg_id", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "q_stream_quantile_merge",
    """WITH m AS (
         SELECT CAST(round(value * 100) AS BIGINT) // 500 AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY bin
       ), c AS (
         SELECT bin, n,
                sum(n) OVER (ORDER BY bin) AS cum,
                sum(n) OVER () AS total
         FROM m
       )
       SELECT CAST(min(total) AS BIGINT) AS n_total,
              CAST(count(*) AS BIGINT) AS n_bins,
              CAST(min(CASE WHEN 2 * cum >= total THEN bin * 500 END)
                   AS BIGINT) AS p50_est_cents,
              CAST(min(CASE WHEN 10 * cum >= 9 * total THEN bin * 500 END)
                   AS BIGINT) AS p90_est_cents,
              CAST(min(CASE WHEN 100 * cum >= 99 * total THEN bin * 500 END)
                   AS BIGINT) AS p99_est_cents
       FROM c""",
    "STREAMING QUANTILE-SKETCH MAINTENANCE — the live twin of "
    "q_histogram_quantile_merge, proving the histogram's merge algebra "
    "under incremental ingestion: events replay as a REAL 2-micro-batch "
    "stream, each batch reduces to its own per-bin counts, and "
    "foreachBatch folds them through sinks.merge_distributive_parquet "
    "(per-bin SUM — associative, commutative, batch_id-idempotent, "
    "crash-ordered swap), so the folded state is BIT-IDENTICAL to the "
    "batch-built histogram and answers to the SAME oracle with the "
    "same exact cross-multiplied quantile reads. This is the "
    "continuously-maintained latency/price-percentile dashboard: "
    "per-shard histograms stream in, |bins| state rows total, "
    "quantiles on demand with NO rescan of history — the operational "
    "reason mergeable sketches beat exact sorts for monitoring.",
)
def q_stream_quantile_merge(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    stream, run_dir = replay_stream(
        spark, "qsketchstream", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=4
    )
    state, ckpt = f"{run_dir}/hist", f"{run_dir}/ckpt"

    def fold(batch_df, batch_id: int) -> None:
        partial = (
            batch_df.select(cents(F.col("value")).alias("value_cents"))
            # integral `div`, matching the batch twin above
            .select(F.expr("value_cents div 500").alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        merge_distributive_parquet(
            batch_df.sparkSession,
            partial,
            state,
            keys=("bin",),
            agg_spec={"n": "sum"},
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))

    m = spark.read.parquet(state).select("bin", "n")
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = m.select(
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    return c.agg(
        F.min("total").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("total"), F.col("bin") * 500)
        ).cast("long").alias("p50_est_cents"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("bin") * 500)
        ).cast("long").alias("p90_est_cents"),
        F.min(
            F.when(
                100 * F.col("cum") >= 99 * F.col("total"), F.col("bin") * 500
            )
        ).cast("long").alias("p99_est_cents"),
    )


# =========================================================================
# Lexical richness, BPE encode (apply the trained tokenizer),
# streaming sliding distinct
# =========================================================================


@register(
    "q_hapax_rate",
    """WITH tok AS (
         SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
         FROM documents
       ), wc AS (
         SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         FROM tok WHERE length(w) > 0 GROUP BY lang, w
       )
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_types,
              CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                   // count(*) AS BIGINT) AS hapax_ppm,
              CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
       FROM wc GROUP BY lang""",
    "LEXICAL RICHNESS per language: type count, token count, hapax "
    "legomena (types occurring exactly once), hapax share of the "
    "vocabulary and type-token ratio in exact integer ppm — the "
    "vocabulary-growth diagnostics a tokenizer/corpus curator reads "
    "before fixing vocab size (a high hapax rate means the vocabulary "
    "is still growing ~Heaps' law and more data changes the merge "
    "table; q_vocab_coverage owns the complementary top-K Zipf mass). "
    "Shape: one explode + (lang, word) hash agg — wordcount — then a "
    "|vocab|-sized re-agg per language; both partial-first, integer "
    "end-to-end, per-group denominators ≥ 1 by construction. The "
    "second agg reads the vocab table, never the corpus.",
)
def q_hapax_rate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    wc = (
        d.select(
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.expr(
            "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("hapax_ppm"),
        F.expr("count(*) * 1000000 div sum(c)").alias("ttr_ppm"),
    )


@register(
    "q_stream_sliding_distinct",
    """WITH g AS (
         SELECT DISTINCT
                CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600)
                     - INTERVAL (k) HOUR AS TIMESTAMP) AS window_start,
                user_id
         FROM events CROSS JOIN range(3) t(k)
         WHERE event_id % 3 = 0
       )
       SELECT window_start,
              window_start + INTERVAL 3 HOUR AS window_end,
              CAST(count(*) AS BIGINT) AS n_users
       FROM g GROUP BY window_start""",
    "STREAMING sliding-window COUNT DISTINCT — the q_sliding_distinct "
    "semantics under a real 2-micro-batch replay, and a composition no "
    "other stream key exercises: map-side 3-window explode → "
    "dropDuplicatesWithinWatermark on (window_start, user_id) — keyed "
    "dedup STATE that persists across micro-batches, so a user seen for "
    "a window in batch 1 is suppressed when batch 2 delivers them again "
    "— → foreachBatch ADDITIVE count merge (merge_distributive_parquet, "
    "batch-id idempotent): because the dedup guarantees each (window, "
    "user) membership passes exactly once, per-batch counts become a "
    "commutative monoid and the non-decomposable distinct turns "
    "mergeable — the exactly-once distinct-merge algebra. Exact vs the "
    "batch oracle under the replay's wide watermark; at scale the "
    "watermark delay bounds dedup state and degrades distinctness "
    "gracefully to exactly-once-per-delay (the q_stream_dedup_ttl "
    "trade, stated there), while window/user growth keeps state "
    "engagement-bounded, not event-bounded.",
)
def q_stream_sliding_distinct(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select("user_id", "ts")
    )
    stream, run_dir = replay_stream(
        spark, "slidedistinct", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=4
    )
    state, ckpt = f"{run_dir}/counts", f"{run_dir}/ckpt"

    member = (
        stream.withWatermark("ts", "30 days")
        .select(
            "user_id",
            "ts",
            F.explode(
                F.array(
                    F.date_trunc("hour", F.col("ts")),
                    F.date_trunc("hour", F.col("ts"))
                    - F.expr("INTERVAL 1 HOUR"),
                    F.date_trunc("hour", F.col("ts"))
                    - F.expr("INTERVAL 2 HOUR"),
                )
            ).alias("window_start"),
        )
        .dropDuplicatesWithinWatermark(["window_start", "user_id"])
    )

    def fold(batch_df, batch_id: int) -> None:
        partial = batch_df.groupBy("window_start").agg(
            F.count(F.lit(1)).alias("n_users")
        )
        merge_distributive_parquet(
            batch_df.sparkSession,
            partial,
            state,
            keys=("window_start",),
            agg_spec={"n_users": "sum"},
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(member, ckpt, fold))

    return spark.read.parquet(state).select(
        "window_start",
        (F.col("window_start") + F.expr("INTERVAL 3 HOUR")).alias(
            "window_end"
        ),
        F.col("n_users").cast("long").alias("n_users"),
    )


@register(
    "q_split_leakage",
    """WITH assigned AS (
         SELECT doc_id, text,
                CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 15))::BIGINT % 10 < 9
                     THEN 1 ELSE 0 END AS is_train,
                array_to_string(
                  string_split_regex(trim(text), '\\s+')[1:8], ' ') AS fp
         FROM documents
       ), g AS (
         SELECT fp,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(is_train) AS BIGINT) AS n_train,
                CAST(sum(1 - is_train) AS BIGINT) AS n_eval
         FROM assigned GROUP BY fp
       )
       SELECT CAST(sum(n_train) AS BIGINT) AS n_train_docs,
              CAST(sum(n_eval) AS BIGINT) AS n_eval_docs,
              CAST(count(*) FILTER (WHERE n_docs > 1) AS BIGINT)
                  AS n_dup_groups,
              CAST(count(*) FILTER (WHERE n_train > 0 AND n_eval > 0)
                   AS BIGINT) AS n_leaked_groups,
              CAST(count(*) FILTER (WHERE n_train > 0 AND n_eval > 0)
                   * 1000000
                   // nullif(count(*) FILTER (WHERE n_docs > 1), 0)
                   AS BIGINT) AS leaked_per_dup_ppm
       FROM g""",
    "TRAIN/EVAL SPLIT LEAKAGE AUDIT — the contamination check that a "
    "random doc-level split always fails on a deduplicated-but-not-"
    "perfectly corpus: assign every document to train (90%) or eval by "
    "the portable md5 hash of its id (the q_group_kfold convention — "
    "replayable, no RNG), fingerprint each document by its 8-word "
    "prefix (the q_paragraph_dedup-style near-dup key; this fixture "
    "has no byte-exact dups, so the prefix group IS the leak unit), "
    "and count fingerprint groups that span BOTH splits — eval docs "
    "whose near-copy sits in train inflate every benchmark number "
    "(the Lee et al. dedup/decontamination finding; q_decontaminate "
    "owns the cross-corpus variant against a reference eval set, this "
    "key audits the split itself). Output: split sizes, dup-group "
    "count, leaked-group count, leak rate among dup groups in exact "
    "ppm. Shape: scan-side hash + fingerprint map, ONE (fingerprint) "
    "hash agg, one 1-row re-agg — wordcount-shaped, partial-first, "
    "exact integers end-to-end.",
)
def q_split_leakage(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    is_train = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        < 9
    ).cast("long")
    # slice(+concat_ws over the array) instead of per-index element_at:
    # graceful on sub-8-word docs where ANSI element_at would error.
    fp = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8)
    )
    g = (
        d.select(is_train.alias("is_train"), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_train").alias("n_train"),
            F.sum(1 - F.col("is_train")).alias("n_eval"),
        )
    )
    leaked = ((F.col("n_train") > 0) & (F.col("n_eval") > 0)).cast("long")
    dupg = (F.col("n_docs") > 1).cast("long")
    return g.agg(
        F.sum("n_train").alias("n_train_docs"),
        F.sum("n_eval").alias("n_eval_docs"),
        F.sum(dupg).alias("n_dup_groups"),
        F.sum(leaked).alias("n_leaked_groups"),
        F.expr(
            "sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)"
            " * 1000000 div nullif(sum(CASE WHEN n_docs > 1 THEN 1"
            " ELSE 0 END), 0)"
        ).alias("leaked_per_dup_ppm"),
    )


@register(
    "q_nucleus_vocab",
    """WITH wc AS (
         SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT lang,
                      unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents)
         WHERE length(w) > 0 GROUP BY lang, w
       ), cum AS (
         SELECT lang, c,
                sum(c) OVER (PARTITION BY lang ORDER BY c DESC, w ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - c AS cum_excl,
                sum(c) OVER (PARTITION BY lang) AS total
         FROM wc
       )
       SELECT lang,
              CAST(count(*) AS BIGINT) AS vocab_size,
              CAST(count(*) FILTER (WHERE cum_excl * 10 < 9 * total)
                   AS BIGINT) AS nucleus_k,
              CAST(sum(c) FILTER (WHERE cum_excl * 10 < 9 * total) * 1000000
                   // sum(c) AS BIGINT) AS nucleus_mass_ppm
       FROM cum GROUP BY lang""",
    "NUCLEUS VOCABULARY SIZE per language — the top-p (p = 0.9) dual of "
    "q_vocab_coverage's top-K: the SMALLEST prefix of the "
    "frequency-ranked vocabulary whose mass reaches 90% of all token "
    "occurrences (include-while-cum_excl<0.9·total gives exactly the "
    "minimal prefix), plus the mass it actually covers — the number a "
    "tokenizer designer reads as 'how many types do 90% of my tokens "
    "come from', and the vocabulary analog of nucleus/top-p sampling. "
    "Exact integers throughout (cum_excl·10 < 9·total — no division "
    "until the final ppm), rank totally ordered by (count DESC, token "
    "ASC). Shape: wordcount agg, then ONE cumulative window per "
    "language partition over the VOCAB table (Heaps-law sublinear in "
    "corpus size; the window never sees the corpus) — where only the "
    "top slice is needed at extreme vocab, q_vocab_coverage's "
    "TakeOrdered cut is the documented escape.",
)
def q_nucleus_vocab(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    wc = (
        d.select(
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("lang")
    cum = wc.select(
        "lang",
        "c",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_excl"),
        F.sum("c").over(w_all).alias("total"),
    )
    inc = (F.col("cum_excl") * 10 < 9 * F.col("total")).cast("long")
    return cum.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(inc).alias("nucleus_k"),
        F.expr(
            "sum(CASE WHEN cum_excl * 10 < 9 * total THEN c ELSE 0 END)"
            " * 1000000 div sum(c)"
        ).alias("nucleus_mass_ppm"),
    )
