"""Operational-surface operators.

Same registry contract as queries.py / queries_ext.py / queries_curate.py /
queries_scale.py (SURVEY.md §2.9 scope). Determinism rules (SURVEY §7.4)
throughout: exact integer cents / counts / byte lengths, floor-truncated
ppm ratios, every tie broken by a total order.

What this module adds (each a genuinely distinct surface, none previously
registered):

- ``q_join_full`` — FULL OUTER join, the one join type the registry lacked.
- ``q_jaccard_join_exact`` — EXACT set-similarity self-join with
  prefix-filter blocking (the PPJoin/AllPairs shape): candidate pairs come
  only from shared rare-shingle prefixes, then exact Jaccard verification.
  Complements the approximate MinHash/SimHash family with the exact
  algorithm used when recall must be 1.
- ``q_time_weighted_avg`` — hypertable-style time-weighted average
  (TimescaleDB ``time_weight``): integral of value over event-time per key.
- ``q_compaction_plan`` — the small-files compaction planner: per-partition
  byte totals -> target file counts, the arithmetic behind OPTIMIZE /
  repartitionByRange before any large write.
- ``q_observed_metrics`` — ``DataFrame.observe``: metrics collected ON the
  data pass (no second scan), the production pattern for row-count /
  checksum accounting on writes.
- ``q_python_udtf`` — the Python UDTF surface (Spark 3.5+): a lateral
  table function over rows, registered and invoked through SQL.
- ``q_sql_params`` — parameterized ``spark.sql``: named ``:param`` binding
  plus ``{df}`` DataFrame template references (injection-safe plan reuse).
- ``q_triangle_count`` — degree-ordered triangle counting over the supplier
  co-occurrence graph with deterministic DOULION edge sampling.
- ``q_winsorized_mean`` — robust clamp-to-[p05,p95] mean per group, the
  outlier-proof aggregate for curation scoring.
- ``q_recursive_cte`` — WITH RECURSIVE (Spark 4.x): BOM-style subtree
  rollup, one distributed join per recursion level.
- ``q_pipe_sql`` — SQL pipe syntax (|>, Spark 4.x): the linear
  scan→filter→derive→aggregate form, same Catalyst plan as classic SQL.
- ``q_xml_parse`` — from_xml (Spark 4.x): typed XML envelope parsing,
  value-checked as a round-trip identity.
- ``q_curation_e2e`` — the curation pipeline composed end-to-end (exact
  dedup → quality cut → deterministic sharding → training manifest).
- ``q_asof_tolerance`` — as-of join with a staleness tolerance (pandas
  merge_asof(tolerance) semantics), same single-shuffle union-window plan.
- ``q_delta_varint_audit`` — per-series delta + LEB128 byte
  accounting for the event-time column, exact integers, no log floats.
- ``q_content_checksum`` — order-insensitive per-table content
  fingerprint (sum of canonicalized row hashes mod 2^63-1 in DECIMAL),
  the replication-verification primitive.
"""

from __future__ import annotations

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions import text as X
from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import staged

# =========================================================================
# FULL OUTER join
# =========================================================================


@register(
    "q_join_full",
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
              (c.c_custkey IS NOT NULL) AS has_customer,
              CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
              CAST(coalesce(CAST(round(c.c_acctbal * 100) AS BIGINT), -1)
                   AS BIGINT) AS acctbal_cents
       FROM (SELECT c_custkey, c_acctbal FROM customer
             WHERE c_custkey % 2 = 0) c
       FULL JOIN (SELECT o_custkey, count(*) AS n_orders
                  FROM orders GROUP BY o_custkey) o
         ON c.c_custkey = o.o_custkey""",
    "FULL OUTER join — the join type the registry lacked. Customers are "
    "filtered to even keys so BOTH null sides are exercised: even "
    "customers with no orders (left-only, n_orders 0) and orders from odd "
    "customers (right-only, has_customer false, acctbal sentinel -1). "
    "Scale: full outer cannot broadcast either side — it is the one join "
    "shape that always shuffles both inputs on the key; the pre-"
    "aggregation of orders (count per custkey) happens BEFORE the join so "
    "the shuffle carries one row per customer, not one per order.",
)
def q_join_full(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        c.c_custkey.isNotNull().alias("has_customer"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(cents(F.col("c_acctbal")), F.lit(-1))
        .cast("long")
        .alias("acctbal_cents"),
    )


# =========================================================================
# Exact set-similarity join with prefix-filter blocking (PPJoin shape)
# =========================================================================

#: duplicate-bearing corpus (same construction as queries_ext._duped_docs):
#: documents ∪ id-shifted exact copies of every 5th doc, so the threshold
#: join provably has survivors (the copies, J = 1.0) at every SF.
_DUPED_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "q_jaccard_join_exact",
    f"""WITH docs AS ({_DUPED_SQL}),
       s AS (
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))]) AS sh
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM docs)
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.sh, b.sh)) * 1000000
                   // nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0)
                   AS BIGINT) AS jaccard_ppm
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE 5 * len(list_intersect(a.sh, b.sh))
             >= 4 * len(list_distinct(list_concat(a.sh, b.sh)))""",
    "EXACT Jaccard similarity self-join at threshold t = 4/5 over 3-gram "
    "shingle sets, with AllPairs/PPJoin-style blocking: shingles are "
    "globally ordered by (document frequency ASC, shingle) — rarest "
    "first — and each doc exposes only its prefix of length "
    "|A| - ceil(t*|A|) + 1; the prefix-filter lemma guarantees any pair "
    "with J >= t shares a prefix shingle (overlap >= ceil(t*|A|) since "
    "|A∪B| >= |A|), so the equi-join on prefix shingles loses nothing — "
    "recall is provably 1, which the brute-force all-pairs oracle "
    "verifies outright (plus a hypothesis property test on adversarial "
    "corpora). A length filter (t*|B| <= |A| <= |B|/t, integerized) "
    "prunes cross-size candidates before the verify, and candidates are "
    "exact-verified with integer arithmetic (5*|∩| >= 4*|∪|; "
    "ppm = |∩|*1e6 div |∪|). Scale: every stage is a keyed shuffle "
    "(shingle df = wordcount; candidate join on prefix-shingle postings, "
    "sized by rare-token posting lists, not N²) — the exact-recall "
    "complement to the MinHash/SimHash approximate family. At t = 4/5 "
    "the prefix is ~|A|/5, which keeps candidate volume ~25x below the "
    "t = 1/2 variant on this fixture's heavily-shared vocabulary while "
    "catching the planted exact copies and true near-dups.",
)
def q_jaccard_join_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(dup)
    # materialize the shingle table once: it feeds the df-count, the
    # ranked-prefix build, AND both sides of the verify join — without the
    # checkpoint the transform-heavy shingling recomputes 4x (same staging
    # pattern as operators/textdedup.minhash_lsh_candidates)
    sets = corpus.select(
        "doc_id", X.word_shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    # tok feeds the df count AND the ranked-prefix join side — checkpoint
    # so the explode over the shingle arrays runs once, not twice.
    tok = sets.select("doc_id", F.explode("sh").alias("g")).localCheckpoint(
        eager=False
    )
    dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "g"))).alias("ordered"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    # prefix length |A| - ceil(4|A|/5) + 1, exact integer: ceil(4n/5) =
    # (4n + 4) div 5 — no doubles, valid at any corpus size. Materialized:
    # the self-join below would otherwise run the whole tok→dfreq→ranked
    # pipeline twice. posexplode keeps each prefix shingle's position for
    # the positional filter.
    prefix = ranked.select(
        "doc_id",
        "sz",
        F.posexplode(
            F.expr("slice(ordered, 1, CAST(sz - (4*sz + 4) div 5 + 1 AS INT))")
        ).alias("pos", "p"),
    ).localCheckpoint(eager=False)
    joined = prefix.alias("a").join(
        prefix.alias("b"),
        (F.col("a.p") == F.col("b.p"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: J >= t forces t <= min/max, i.e. sizes within
        # a factor of 1/t of each other (5*small >= 4*big)
        & (F.col("a.sz") * 5 >= F.col("b.sz") * 4)
        & (F.col("b.sz") * 5 >= F.col("a.sz") * 4),
    )
    # PPJoin positional filter. Matched positions increase together in the
    # global shingle order, so min(pos_a) and min(pos_b) both belong to the
    # FIRST shared prefix shingle t0; shingles before it on either side
    # cannot appear anywhere in the other set (a sorted suffix is >= the
    # prefix max >= t0), hence |∩| <= min(sz_a - pos_a, sz_b - pos_b).
    # Prune pairs whose bound misses α = ceil(t/(1+t)·(sz_a+sz_b))
    # = (4·(sz_a+sz_b) + 8) div 9 at t = 4/5 — cuts verify volume ~2.6x
    # on the fixture, exactness unaffected (bound is an upper bound).
    cand = (
        joined.groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.min("a.pos").alias("pa"),
            F.min("b.pos").alias("pb"),
            F.first("a.sz").alias("sa"),
            F.first("b.sz").alias("sb"),
        )
        .filter(
            F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
            >= F.expr("CAST((4 * (sa + sb) + 8) div 9 AS INT)")
        )
        .select("id_a", "id_b")
    )
    verify = cand.join(
        sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    # |∪| = |A| + |B| - |∩| — one array op per pair instead of two
    sized = verify.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        (F.size("sh_a") + F.size("sh_b")).alias("ab"),
    ).select(
        "id_a", "id_b", "i", (F.col("ab") - F.col("i")).alias("u")
    )
    return sized.filter(F.col("i") * 5 >= F.col("u") * 4).select(
        "id_a",
        "id_b",
        F.expr(
            "CAST(CAST(i AS BIGINT) * 1000000 div nullif(u, 0) AS BIGINT)"
        ).alias(
            "jaccard_ppm"
        ),
    )


# =========================================================================
# Time-weighted average (hypertable rollup)
# =========================================================================


@register(
    "q_time_weighted_avg",
    """WITH seg AS (
         SELECT user_id,
                CAST(round(value * 100) AS BIGINT) AS c,
                epoch_us(ts) AS t0,
                lead(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1
         FROM events WHERE value >= 0
       )
       SELECT user_id,
              CAST(sum(c * (t1 - t0)) // sum(t1 - t0) AS BIGINT)
                  AS twa_cents,
              CAST(sum(t1 - t0) AS BIGINT) AS span_us,
              CAST(count(*) AS BIGINT) AS n_intervals
       FROM seg WHERE t1 IS NOT NULL
       GROUP BY user_id HAVING sum(t1 - t0) > 0""",
    "Time-weighted average per user (TimescaleDB time_weight, left-"
    "continuous step interpolation): each observation holds its value "
    "until the next one, so twa = Σ value_i·Δt_i / Σ Δt_i over "
    "consecutive-event intervals. Exact integers end-to-end: cents × "
    "microsecond deltas (the weighted sum is bounded by max_cents × total "
    "span, ~1e17 at sf0.1 — inside int64; at much larger time spans, "
    "aggregate per day first or carry the accumulator in DECIMAL), ties "
    "in ts broken by event_id, negative-value events excluded so that "
    "Spark's div (truncating) and DuckDB's // (flooring) agree on the "
    "all-positive quotient. One window shuffle + one hash agg, both on "
    "user_id — the second reuses the first's partitioning.",
)
def q_time_weighted_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value") >= 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t0 = F.unix_micros(F.col("ts"))
    seg = ev.select(
        "user_id",
        cents(F.col("value")).alias("c"),
        t0.alias("t0"),
        F.lead(t0).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    dt = F.col("t1") - F.col("t0")
    g = seg.groupBy("user_id").agg(
        F.sum(F.col("c") * dt).alias("wsum"),
        F.sum(dt).alias("span_us"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return g.filter(F.col("span_us") > 0).select(
        "user_id",
        F.expr("CAST(wsum div span_us AS BIGINT)").alias("twa_cents"),
        F.col("span_us").cast("long").alias("span_us"),
        F.col("n_intervals").cast("long").alias("n_intervals"),
    )


# =========================================================================
# Small-files compaction planner
# =========================================================================

_TARGET_FILE_BYTES = 1 << 20  # 1 MiB at test SF; 128 MiB in production


@register(
    "q_compaction_plan",
    f"""WITH p AS (
         SELECT lang, source,
                CAST(sum(octet_length(encode(text))) AS BIGINT)
                    AS total_bytes,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY lang, source
       ), t AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS grand FROM p)
       SELECT lang, source, total_bytes, n_docs,
              CAST(greatest((total_bytes + {_TARGET_FILE_BYTES - 1})
                            // {_TARGET_FILE_BYTES}, 1) AS BIGINT)
                  AS n_files,
              CAST(total_bytes * 1000000 // grand AS BIGINT)
                  AS bytes_share_ppm
       FROM p, t""",
    "The compaction / OPTIMIZE planner: per (lang, source) output "
    "partition, total UTF-8 bytes -> target file count at a fixed file "
    "size (integer ceil, min 1 — 1 MiB at test SF standing in for the "
    "reference's 128 MiB Delta target, 03_gold:75) plus each partition's "
    "ppm share of total bytes (the skew signal: one partition holding "
    "most bytes means repartitionByRange, not coalesce). This arithmetic "
    "is what decides the .repartition(n) before any large write — "
    "undersized files are the #1 operational failure of naive "
    "pipelines (metadata pressure + per-file open cost on every future "
    "scan). One hash agg over the scan + a 1-row broadcast join.",
)
def q_compaction_plan(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    p = d.groupBy("lang", "source").agg(
        F.sum(F.octet_length("text")).cast("long").alias("total_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    t = p.agg(F.sum("total_bytes").cast("long").alias("grand"))
    m = _TARGET_FILE_BYTES
    return p.crossJoin(F.broadcast(t)).select(
        "lang",
        "source",
        "total_bytes",
        "n_docs",
        F.greatest(
            F.expr(f"(total_bytes + {m - 1}) div {m}"), F.lit(1)
        )
        .cast("long")
        .alias("n_files"),
        F.expr("CAST(total_bytes * 1000000 div grand AS BIGINT)").alias(
            "bytes_share_ppm"
        ),
    )


# =========================================================================
# Observed metrics (DataFrame.observe)
# =========================================================================


@register(
    "q_observed_metrics",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents,
              CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_negative
       FROM events""",
    "DataFrame.observe: named accumulator-backed aggregates collected ON "
    "the data pass — row count, exact-cents checksum, and an invalid-row "
    "counter materialize as a side effect of the single scan, with NO "
    "second job. This is the production accounting pattern for "
    "writes (count + checksum every batch without re-reading it); the "
    "streaming twin is QueryProgressEvent.observedMetrics. The returned "
    "1-row DataFrame carries the observed values; the oracle recomputes "
    "them declaratively.",
)
def q_observed_metrics(spark, sf_dir):
    obs = Observation()
    ev = _t(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("value"))).alias("total_cents"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
    )
    ev.write.format("noop").mode("overwrite").save()  # the one data pass
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["total_cents"]), int(m["n_negative"]))],
        "n_rows long, total_cents long, n_negative long",
    )


# =========================================================================
# Python UDTF (lateral table function)
# =========================================================================


def _split_words_udtf_class():
    """Build the UDTF class lazily (pyspark.sql.functions.udtf decorates at
    definition time; keeping it in a factory keeps module import cheap)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class SplitWords:
        """Tokenize one document per input row, emitting (position, word)
        rows — the same trim + \\s+ split as functions.text.tokens, so the
        declarative oracle reproduces it exactly (fixture text is ASCII;
        Python \\s is a superset on non-ASCII whitespace)."""

        def eval(self, text: str):
            import re

            for i, w in enumerate(re.split(r"\s+", (text or "").strip(" "))):
                yield i, w

    return SplitWords


@register(
    "q_python_udtf",
    """SELECT doc_id,
              CAST(unnest(range(len(w))) AS INTEGER) AS pos,
              unnest(w) AS word
       FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
             FROM documents WHERE doc_id % 97 = 0)""",
    "Python UDTF surface (Spark 3.5+): a table function registered in the "
    "session and invoked as a LATERAL join — one input row fans out to N "
    "(pos, word) rows. UDTFs are the API for row-expanding Python logic "
    "that doesn't fit a scalar UDF (parsers, samplers, tree walkers); "
    "execution is batched through the same Python worker channel as "
    "Pandas UDFs. The fixture tokenization is deterministic, so the "
    "oracle value-checks every emitted row (DuckDB's zipped unnest "
    "provides the ordinality). The doc_id % 97 filter bounds fan-out; at "
    "scale the same plan shape streams — per-row expansion, no shuffle.",
)
def q_python_udtf(spark, sf_dir):
    spark.udtf.register("split_words_udtf", _split_words_udtf_class())
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    d.createOrReplaceTempView("q_python_udtf_docs")
    return spark.sql(
        """SELECT d.doc_id, t.pos, t.word
           FROM q_python_udtf_docs d, LATERAL split_words_udtf(d.text) t"""
    )


# =========================================================================
# Parameterized SQL
# =========================================================================


@register(
    "q_sql_params",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
       FROM events
       WHERE value >= 10.0 AND value < 200.0
       GROUP BY event_type""",
    "Parameterized spark.sql — BOTH binding surfaces in one statement: "
    "named :param markers bound from the args dict (injection-safe "
    "literals, plan-cache-friendly where the same template runs "
    "per partition/day) and a {df} template reference that splices a "
    "DataFrame into the query without a temp view. The oracle inlines the "
    "bound literals.",
)
def q_sql_params(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return spark.sql(
        """SELECT event_type,
                  CAST(count(*) AS LONG) AS n,
                  CAST(sum(CAST(round(value * 100) AS LONG)) AS LONG)
                      AS total_cents
           FROM {ev}
           WHERE value >= :lo AND value < :hi
           GROUP BY event_type""",
        args={"lo": 10.0, "hi": 200.0},
        ev=ev,
    )


# =========================================================================
# Triangle counting (degree-ordered orientation + DOULION edge sampling)
# =========================================================================


@register(
    "q_triangle_count",
    """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       se AS (
         SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         FROM os a JOIN os b
           ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
         WHERE (a.l_suppkey * 31 + b.l_suppkey) % 20 = 0
       )
       SELECT CAST((SELECT count(*) FROM se) AS BIGINT) AS n_edges,
              CAST((SELECT count(*)
                    FROM se e1
                    JOIN se e2 ON e1.v = e2.u
                    JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v)
                   AS BIGINT) AS n_triangles,
              CAST((SELECT count(*)
                    FROM se e1
                    JOIN se e2 ON e1.v = e2.u
                    JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v) * 8000
                   AS BIGINT) AS est_triangles""",
    "Triangle counting on the supplier co-occurrence graph (suppliers "
    "sharing an order), the canonical distributed graph kernel, with two "
    "scale techniques composed: (1) DOULION edge sampling — a "
    "deterministic 1-in-20 hash of the edge keeps the graph sparse and "
    "the exact count on the sampled graph unbiased-scales by 1/p³ = 8000 "
    "(Tsourakakis et al., KDD'09); the filter commutes with DISTINCT so "
    "it is pushed BELOW the dedup, shrinking the first shuffle 20x. "
    "(2) Degree-ordered orientation — each undirected edge points from "
    "the (degree, node)-smaller endpoint, so every triangle is counted "
    "exactly once from its unique two-out-edge apex and the wedge join "
    "fans out by OUT-degree, bounded by O(m^1.5) total wedges instead of "
    "sum-of-squared-degrees (the hub explosion that kills naive triangle "
    "joins on skewed graphs). The oracle counts the same sampled graph "
    "with a plain 3-way join (a < b < c ordering), proving the oriented "
    "algorithm exact. All joins are keyed shuffles; no node ever "
    "enumerates a hub's full neighborhood square.",
)
def q_triangle_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = os_.alias("a"), os_.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        # deterministic DOULION sample, pushed below the distinct
        .filter(
            (F.col("a.l_suppkey") * 31 + F.col("b.l_suppkey")) % 20 == 0
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds degrees + both wedge sides
    )
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient from (deg, node)-smaller to larger; carry the dst's rank key
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("u")
            )
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("v")
            )
            .otherwise(F.col("u"))
            .alias("dst"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"),
                F.struct(F.col("dv").alias("d"), F.col("v").alias("n")),
            )
            .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
            .alias("dkey"),
        )
        .localCheckpoint(eager=False)  # wedge self-join + closing-edge probe
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.dkey") < F.col("w2.dkey")),
    ).select(
        F.col("w1.dst").alias("x"), F.col("w2.dst").alias("y")
    )
    closing = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return ne.crossJoin(tri).select(
        "n_edges",
        "n_triangles",
        (F.col("n_triangles") * 8000).cast("long").alias("est_triangles"),
    )


# =========================================================================
# Winsorized mean (robust aggregation for curation scoring)
# =========================================================================


@register(
    "q_winsorized_mean",
    """WITH b AS (
         SELECT event_type,
                quantile_disc(value, 0.05) AS lo,
                quantile_disc(value, 0.95) AS hi
         FROM events GROUP BY event_type
       )
       SELECT e.event_type,
              CAST(floor(sum(CAST(round(
                       least(greatest(e.value, b.lo), b.hi) * 100)
                   AS BIGINT)) / count(*)) AS BIGINT) AS wmean_cents,
              CAST(count(*) AS BIGINT) AS n
       FROM events e JOIN b USING (event_type)
       GROUP BY e.event_type""",
    "Winsorized mean per event_type — the robust aggregate curation "
    "pipelines use where plain means are wrecked by outliers (clamp to "
    "the [p05, p95] discrete quantiles, then average): two passes, both "
    "keyed on event_type — a quantile agg producing one bounds row per "
    "group (broadcast back, 5 rows) and a clamp+mean over the scan. "
    "percentile_disc picks actual data values (engine-portable total "
    "order, same as the green q_percentile_disc), clamped values are "
    "therefore 2-dp data values with exact cents, and the mean is "
    "floor(sum_cents / n) — float division of exact integers < 2^53, "
    "identical doubles in both engines, floor-truncated per SURVEY §7.4.",
)
def q_winsorized_mean(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def disc(q):
        return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)")

    bounds = ev.groupBy("event_type").agg(
        disc(0.05).alias("lo"), disc(0.95).alias("hi")
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        cents(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")))
        .alias("c"),
    )
    return clamped.groupBy("event_type").agg(
        F.floor(F.sum("c") / F.count(F.lit(1))).cast("long").alias(
            "wmean_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# =========================================================================
# Recursive CTE (Spark 4.x) — hierarchical subtree rollup
# =========================================================================


@register(
    "q_recursive_cte",
    """WITH RECURSIVE sub(root, pk, price) AS (
         SELECT p_partkey, p_partkey, p_retailprice
         FROM part WHERE p_partkey < 10
         UNION ALL
         SELECT s.root, p.p_partkey, p.p_retailprice
         FROM sub s JOIN part p ON s.pk = p.p_partkey // 10
         WHERE p.p_partkey > 9
       )
       SELECT root,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
                  AS subtree_retail_cents
       FROM sub GROUP BY root""",
    "Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4.x): a "
    "BOM-style subtree rollup over a synthetic 10-ary part hierarchy "
    "(child partkey div 10 = parent partkey) — each root under 10 "
    "accumulates the node count and exact-cents retail price of its whole "
    "subtree. The recursive step joins the frontier to the part table on "
    "the EQUI key ``parent = child div 10`` (a BETWEEN-range formulation "
    "measured 10x slower — each level degraded to a nested-loop join), "
    "so each of the O(depth = log10(maxkey)) levels is one distributed "
    "hash join regardless of data size — the declarative twin of the "
    "operators/graph.py iterative pattern, with the fixpoint managed by "
    "the engine instead of a driver loop. DuckDB runs the identical "
    "statement.",
)
def q_recursive_cte(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    part.createOrReplaceTempView("q_recursive_cte_part")
    return spark.sql(
        """WITH RECURSIVE sub(root, pk, price) AS (
             SELECT p_partkey, p_partkey, p_retailprice
             FROM q_recursive_cte_part WHERE p_partkey < 10
             UNION ALL
             SELECT s.root, p.p_partkey, p.p_retailprice
             FROM sub s JOIN q_recursive_cte_part p
               ON s.pk = p.p_partkey div 10
             WHERE p.p_partkey > 9
           )
           SELECT root,
                  CAST(count(*) AS LONG) AS n_nodes,
                  CAST(sum(CAST(round(price * 100) AS LONG)) AS LONG)
                      AS subtree_retail_cents
           FROM sub GROUP BY root"""
    )


# =========================================================================
# SQL pipe syntax (Spark 4.x)
# =========================================================================


@register(
    "q_pipe_sql",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
       FROM events WHERE value >= 0 GROUP BY event_type""",
    "SQL pipe syntax (|>, new surface in Spark 4.x): the same scan → "
    "filter → derive → aggregate chain a DataFrame expresses, written as "
    "a linear SQL pipeline (FROM |> WHERE |> EXTEND |> AGGREGATE ... "
    "GROUP BY). Compiles to the identical logical plan as the classic "
    "form — the oracle is that classic form — so Catalyst optimizations "
    "(pushdown, pruning, partial agg) apply unchanged.",
)
def q_pipe_sql(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q_pipe_sql_events")
    return spark.sql(
        """FROM q_pipe_sql_events
           |> WHERE value >= 0
           |> EXTEND CAST(round(value * 100) AS LONG) AS cents
           |> AGGREGATE CAST(count(*) AS LONG) AS n,
                        CAST(sum(cents) AS LONG) AS total_cents
              GROUP BY event_type"""
    )


# =========================================================================
# XML parsing (from_xml, Spark 4.x)
# =========================================================================


@register(
    "q_xml_parse",
    """SELECT doc_id,
              CAST(doc_id AS BIGINT) AS parsed_id,
              lang AS parsed_lang,
              CAST(octet_length(encode(text)) AS BIGINT) AS parsed_len
       FROM documents""",
    "XML ingestion surface (from_xml, native in Spark 4.x — previously "
    "the spark-xml package): each document row is serialized to an XML "
    "envelope (id attribute + lang/len elements — attribute-and-scalar "
    "content only, so no entity-escaping ambiguity) and parsed back with "
    "a typed schema ('_id LONG, lang STRING, len LONG'; attributes map "
    "to underscore-prefixed fields). The oracle is the round-trip "
    "identity: parsed values must equal the source columns exactly, "
    "which value-checks the parse of every row. Narrow per-row map, no "
    "shuffle — same scan-side placement as q_json_parse.",
)
def q_xml_parse(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    xml = F.concat(
        F.lit('<doc id="'),
        F.col("doc_id"),
        F.lit('"><lang>'),
        F.col("lang"),
        F.lit("</lang><len>"),
        F.octet_length("text"),
        F.lit("</len></doc>"),
    )
    parsed = d.select(
        "doc_id",
        F.from_xml(xml, "_id LONG, lang STRING, len LONG").alias("p"),
    )
    return parsed.select(
        "doc_id",
        F.col("p._id").alias("parsed_id"),
        F.col("p.lang").alias("parsed_lang"),
        F.col("p.len").alias("parsed_len"),
    )


# =========================================================================
# End-to-end curation pipeline (dedup → quality filter → shard manifest)
# =========================================================================

#: DuckDB twin of functions.text.quality_score over an arbitrary doc CTE
#: (same floored arithmetic as the green q_quality_score oracle).
_QUALITY_CTE = """
  t AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS toks,
           length(text) AS n_chars
    FROM dedup
  ), f AS (
    SELECT doc_id, n_chars, len(toks) AS n_tokens,
           len(list_filter(list_transform(toks, t -> lower(t)),
               t -> list_contains(['the','a','of','and','to','is','in',
                                   'that','it','for'], t))) AS n_stopwords,
           n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
               AS n_nonalnum,
           floor((n_chars - len(toks) + 1) * 10000.0 / len(toks)) / 10000.0
               AS mean_word_len
    FROM t
  ), scored AS (
    SELECT doc_id, n_tokens,
           floor(greatest(least(
               0.5 + least(floor(n_stopwords * 10000.0 / n_tokens)
                           / 10000.0 * 2, 0.3)
                   - least(floor(n_nonalnum * 10000.0 / n_chars)
                           / 10000.0 * 2, 0.4)
                   - CASE WHEN mean_word_len < 3 OR mean_word_len > 12
                          THEN 0.2 ELSE 0.0 END,
               1.0), 0.0) * 10000) / 10000.0 AS quality
    FROM f
  )
"""


@register(
    "q_curation_e2e",
    f"""WITH docs AS ({_DUPED_SQL}),
       dedup AS (
         SELECT doc_id, text FROM (
           SELECT doc_id, text,
                  row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
           FROM docs) WHERE rn = 1
       ),{_QUALITY_CTE},
       keep AS (SELECT doc_id, n_tokens FROM scored WHERE quality >= 0.6)
       SELECT ((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003 % 8
                  AS shard,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       FROM keep GROUP BY shard""",
    "The curation pipeline composed END-TO-END as one plan — the flagship "
    "of the LLM-data family: (1) exact dedup keep-first by md5 text "
    "fingerprint over the duplicate-bearing corpus (one hash shuffle); "
    "(2) Gopher/C4-style quality scoring and a >= 0.6 cut (narrow map, "
    "drops ~half the fixture); (3) deterministic Knuth-modular-hash "
    "sharding; (4) the per-shard training manifest (doc count + total "
    "token budget) every run is provisioned from. Each stage is the "
    "already-verified single-key operator (q_exact_dedup / "
    "q_quality_score / q_corpus_shard), composed here to prove the "
    "stages fuse into one TWO-shuffle plan — the dedup window (which "
    "Spark further optimizes to a partial/final WindowGroupLimit, i.e. a "
    "per-partition top-1 instead of a full sort) and the final manifest "
    "agg; quality scoring and sharding ride along as narrow maps with no "
    "materialization barriers. Replayable at any scale: no RNG, no "
    "driver state.",
)
def q_curation_e2e(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.queries_scale import (
        _N_SHARDS,
        _SHARD_M,
        _SHARD_P,
    )

    docs = _t(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", "text"
    )
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(dup)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    kept = dedup.filter(X.quality_score(F.col("text")) >= 0.6).select(
        "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    shard = F.pmod(
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(_SHARD_P)) * F.lit(_SHARD_M),
            F.lit(_SHARD_P),
        ),
        F.lit(_N_SHARDS),
    )
    return (
        kept.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# =========================================================================
# As-of join with tolerance (stale-quote cutoff)
# =========================================================================


@register(
    "q_asof_tolerance",
    """WITH rates AS (
         SELECT user_id, ts, value AS rate FROM (
           SELECT user_id, ts, value,
                  row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id % 20 = 0
         ) WHERE rn = 1
       )
       SELECT e.event_id, e.user_id, e.ts,
              CASE WHEN e.ts - r.ts <= INTERVAL 30 MINUTE
                   THEN r.rate END AS rate
       FROM events e ASOF LEFT JOIN rates r
         ON e.user_id = r.user_id AND e.ts >= r.ts""",
    "As-of join with a 30-minute tolerance — pandas merge_asof(tolerance) "
    "semantics: the latest at-or-before quote applies ONLY while fresh; a "
    "staler quote yields NULL instead of silently pricing with old data "
    "(the financial/telemetry correctness rule plain as-of misses). Same "
    "union-window single-shuffle plan as q_asof_join — the carried struct "
    "additionally holds the quote's own timestamp, so staleness is an "
    "exact microsecond comparison, not a second window pass. DuckDB "
    "oracle: native ASOF LEFT JOIN + interval cutoff.",
)
def q_asof_tolerance(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.dedup import (
        keep_first_per_key,
    )
    from real_time_rides_data_pipeline_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    rates = keep_first_per_key(
        ev.filter(F.col("event_id") % 20 == 0),
        keys=("user_id", "ts"),
        order_by=("event_id",),
        descending=True,
    ).select("user_id", "ts", F.col("value").alias("rate"))
    out = asof_join(
        ev.select("event_id", "ts", "user_id"),
        rates,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload="rate",
        tolerance_seconds=1800,
    )
    return out.select("event_id", "user_id", "ts", "rate")


@register(
    "q_ks_drift",
    """WITH p AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS v,
                (event_id % 2 = 0) AS is_a
         FROM events
       ), g AS (
         SELECT v,
                CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS ca,
                CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS cb
         FROM p GROUP BY v
       ), c AS (
         SELECT v,
                CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
                CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
         FROM g
       ), t AS (
         SELECT CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS na,
                CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS nb
         FROM p
       ), dd AS (
         SELECT c.v, abs(c.cuma * t.nb - c.cumb * t.na) AS dnum,
                t.na, t.nb
         FROM c, t
       )
       SELECT max(na) AS n_left, max(nb) AS n_right,
              max(dnum) AS d_num,
              min(v) FILTER (WHERE dnum = (SELECT max(dnum) FROM dd))
                  AS d_at_cents
       FROM dd""",
    "Two-sample Kolmogorov-Smirnov drift monitor — the distribution-shift "
    "gate a training-data pipeline runs between corpus snapshots / "
    "producer cohorts (here: even vs odd event_id over exact cent "
    "values). EXACT integer statistic: D = max |F_a - F_b| is computed as "
    "max |cuma*nb - cumb*na| over the pooled distinct-value staircase — "
    "the un-normalized numerator (divide by na*nb off-engine for the "
    "classical D), so no float division drifts between engines; "
    "d_at_cents is the smallest value attaining the max (total order). "
    "Scale: one hash aggregate to per-distinct-value counts (domain-"
    "bounded — cent values, not N rows), cumulative sums via an ordered "
    "window over that staircase (same domain-bounded-sort rationale as "
    "the Pareto sweep), side totals as the full-frame max of the "
    "nondecreasing cumulative sums on the same sort (no scalar join), "
    "final single-row max — no all-pairs work, nothing data-proportional "
    "past the first aggregate.",
)
def q_ks_drift(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.agg import (
        ks_two_sample,
    )

    ev = _t(spark, sf_dir, "events").select(
        cents(F.col("value")).alias("v"),
        (F.col("event_id") % 2 == 0).alias("is_a"),
    )
    return ks_two_sample(ev, "v", "is_a").withColumnRenamed(
        "d_at", "d_at_cents"
    )


# =========================================================================
# CSV corrupt-record audit
# =========================================================================


@register(
    "q_csv_corrupt_records",
    """WITH lines AS (
         SELECT CASE WHEN event_id % 37 = 0 THEN 'corrupt' ELSE event_type END
                    AS kind,
                CASE WHEN event_id % 37 = 0 THEN NULL
                     ELSE CAST(round(value * 100) AS BIGINT) END AS c
         FROM events)
       SELECT kind,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(c) AS BIGINT) AS sum_cents
       FROM lines GROUP BY kind""",
    "Malformed-CSV ingest audit — the PERMISSIVE _corrupt_record machinery "
    "(the CSV twin of q_malformed_filter's JSON path): events are first "
    "serialized to CSV text with every 37th row deterministically mangled "
    "(a non-numeric id field), read back with an explicit schema + "
    "columnNameOfCorruptRecord, and audited per kind — good rows keep "
    "their exact cents sum, corrupt rows land in the quarantine count with "
    "NULL typed fields. The ORACLE derives the same report straight from "
    "the source rows, so the serialize → corrupt → permissive-parse → "
    "quarantine path must be lossless for good rows and total for bad "
    "ones. Scale: pure map encode, pure map parse, one hash agg; the "
    "corrupt-record column costs nothing on clean rows.",
)
def q_csv_corrupt_records(spark, sf_dir):

    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 37 == 0,
        F.concat_ws(",", F.lit("not_a_number"), F.col("event_type")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("event_id"),
            F.unix_micros("ts"),
            F.col("user_id"),
            F.col("event_type"),
            cents(F.col("value")),
        )
    )
    # The CSV text encode is input PREP, not the operator under test, and
    # is a pure function of sf_dir — staged once per process (min-of-N
    # bench reps would otherwise rewrite the whole events table as text).
    path = staged(
        ("csv_corrupt", sf_dir),
        lambda d: ev.select(line.alias("value")).write.mode("overwrite").text(d),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("c", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = spark.read.csv(
        path,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    # Quarantine predicate: _corrupt_record OR a NULL required key — Spark's
    # CSV PERMISSIVE mode nulls a field whose token fails type conversion
    # without always populating the corrupt column (verified live: the
    # short mangled rows arrive with all-null typed fields and a null
    # _corrupt_record), so a robust audit checks the natural key too.
    kind = F.when(
        F.col("_corrupt_record").isNotNull() | F.col("event_id").isNull(),
        F.lit("corrupt"),
    ).otherwise(F.col("event_type"))
    return parsed.select(kind.alias("kind"), "c").groupBy("kind").agg(
        F.count("*").alias("n_rows"), F.sum("c").alias("sum_cents")
    )


# =========================================================================
# Benford first-digit audit
# =========================================================================

#: floor(1e6 * log10(1 + 1/d)) for d = 1..9 — Benford's law as exact ppm
#: literals (log10 is irrational; the scaled-floor table is the portable
#: contract, the q_ndcg_at10 precedent).
_BENFORD_PPM = [301029, 176091, 124938, 96910, 79181, 66946, 57991,
                51152, 45757]


@register(
    "q_benford_audit",
    f"""WITH d AS (
         SELECT substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                       1, 1) AS digit_s
         FROM events WHERE round(value * 100) >= 1
       ), c AS (
         SELECT CAST(digit_s AS BIGINT) AS digit,
                CAST(count(*) AS BIGINT) AS n
         FROM d GROUP BY digit_s
       ), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
       SELECT digit, n,
              CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
              CAST(({_BENFORD_PPM})[digit] AS BIGINT) AS benford_ppm,
              CAST(abs(n * 1000000 // total - ({_BENFORD_PPM})[digit])
                   AS BIGINT) AS abs_dev_ppm
       FROM c, t ORDER BY digit""",
    "BENFORD first-digit audit — the classic numeric-integrity / fraud "
    "screen a data-quality pipeline runs over money-like measures: the "
    "leading digit of each positive cents value (extracted as the first "
    "CHARACTER of the integer's decimal rendering — exact and "
    "engine-portable, no float log10 anywhere) tallied against Benford's "
    "expected frequencies, which enter as a LITERAL scaled-ppm table "
    "(floor(1e6·log10(1+1/d)) — the irrational law reduced to a portable "
    "integer contract, the q_ndcg_at10 weight-table precedent), with the "
    "absolute deviation per digit in exact ppm. Shape: pure map digit "
    "extraction + one 9-group hash agg + a broadcast 1-row total; the "
    "fixture's 2-dp value distribution is genuinely Benford-shaped, so "
    "the audit reads as it would in production.",
)
def q_benford_audit(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select(cents(F.col("value")).alias("cts"))
        .filter(F.col("cts") >= 1)
        .select(
            F.substring(F.col("cts").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    benford = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD_PPM]),
        F.col("digit").cast("int"),
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div total").alias("observed_ppm"),
            benford.alias("benford_ppm"),
            F.abs(
                F.expr("n * 1000000 div total") - benford
            ).alias("abs_dev_ppm"),
        )
        .orderBy("digit")
    )


# =========================================================================
# Storage-encoding audit + replication content checksum
# =========================================================================


@register(
    "q_delta_varint_audit",
    """WITH d AS (
         SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS delta
         FROM events
       ), b AS (
         SELECT user_id, delta,
                CASE WHEN delta IS NULL THEN 8
                     WHEN delta < 128 THEN 1
                     WHEN delta < 16384 THEN 2
                     WHEN delta < 2097152 THEN 3
                     WHEN delta < 268435456 THEN 4
                     WHEN delta < 34359738368 THEN 5
                     WHEN delta < 4398046511104 THEN 6
                     WHEN delta < 562949953421312 THEN 7
                     WHEN delta < 72057594037927936 THEN 8
                     ELSE 9 END AS nbytes
         FROM d)
       SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) FILTER (WHERE delta IS NULL) AS BIGINT)
                  AS n_series,
              CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
              CAST(sum(nbytes) AS BIGINT) AS encoded_bytes,
              CAST(sum(nbytes) * 1000000 // (count(*) * 8) AS BIGINT)
                  AS ratio_ppm,
              CAST(max(delta) AS BIGINT) AS max_delta_us
       FROM b""",
    "STORAGE-ENCODING audit — how compressible is the event-time column "
    "under per-series delta + varint encoding (the parquet "
    "DELTA_BINARY_PACKED question, answered in exact integers before "
    "any rewrite): per user, consecutive-event µs deltas (non-negative "
    "by construction — the series is ordered and fixture timestamps are "
    "distinct), each costing its exact LEB128 byte count via an integer "
    "CASE ladder (no log2 floats), series heads costing a full 8-byte "
    "base. Emits raw vs encoded bytes, the floored ppm ratio, and the "
    "max gap — the number a layout decision (sort-by-user-then-time at "
    "write) is made on. Shape: ONE shuffle on user_id for the lag "
    "window, then a single-row aggregate; the ladder is "
    "whole-stage-codegen branch arithmetic.",
)
def q_delta_varint_audit(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    d = ev.select(
        (us - F.lag(us).over(w)).alias("delta")
    )
    thresholds = [128 << (7 * i) for i in range(8)]  # 2^7 .. 2^56
    ladder = F.when(F.col("delta").isNull(), 8)
    for i, t in enumerate(thresholds):
        ladder = ladder.when(F.col("delta") < t, i + 1)
    ladder = ladder.otherwise(9)
    b = d.select("delta", ladder.alias("nbytes"))
    return b.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("delta").isNull().cast("long")).alias("n_series"),
        (F.count(F.lit(1)) * 8).alias("raw_bytes"),
        F.sum("nbytes").cast("long").alias("encoded_bytes"),
        F.expr(
            "sum(nbytes) * 1000000 div (count(1) * 8)"
        ).cast("long").alias("ratio_ppm"),
        F.max("delta").cast("long").alias("max_delta_us"),
    )


@register(
    "q_content_checksum",
    """WITH e AS (
         SELECT CAST(sum(('0x' || substr(md5(concat_ws('|',
                  event_id, epoch_us(ts), user_id, event_type,
                  CAST(round(value * 100) AS BIGINT), props)), 1, 15))
                  ::BIGINT % 9223372036854775807) AS DECIMAL(38,0)) AS s,
                CAST(count(*) AS BIGINT) AS n
         FROM events
       ), l AS (
         SELECT CAST(sum(('0x' || substr(md5(concat_ws('|',
                  l_orderkey, l_linenumber,
                  CAST(round(l_extendedprice * 100) AS BIGINT),
                  l_returnflag)), 1, 15))
                  ::BIGINT % 9223372036854775807) AS DECIMAL(38,0)) AS s,
                CAST(count(*) AS BIGINT) AS n
         FROM lineitem
       ), d AS (
         SELECT CAST(sum(('0x' || substr(md5(concat_ws('|',
                  doc_id, lang, source, md5(text))), 1, 15))
                  ::BIGINT % 9223372036854775807) AS DECIMAL(38,0)) AS s,
                CAST(count(*) AS BIGINT) AS n
         FROM documents)
       SELECT * FROM (
         SELECT 'events' AS table_name, n AS n_rows,
                CAST(s % 9223372036854775807 AS BIGINT) AS checksum
         FROM e
         UNION ALL
         SELECT 'lineitem', n, CAST(s % 9223372036854775807 AS BIGINT)
         FROM l
         UNION ALL
         SELECT 'documents', n, CAST(s % 9223372036854775807 AS BIGINT)
         FROM d)""",
    "TABLE CONTENT CHECKSUM — the replication/migration verification "
    "primitive: an ORDER-INSENSITIVE per-table fingerprint (sum of "
    "per-row md5-60-bit hashes over canonicalized columns, folded mod "
    "2^63−1 in exact DECIMAL — commutative, so it parallelizes over any "
    "partitioning and two sides of a copy can be compared without "
    "sorting either). Canonicalization rules make it engine-portable: "
    "timestamps as epoch µs, money as integer cents, text by its own "
    "md5 (never raw doubles or engine float formatting). Per table: "
    "row count + checksum; a mismatched pair localizes divergence to a "
    "table before any row-level diff (q_snapshot_diff) runs. Shape: "
    "one narrow map + 1-row aggregate per table, rows never move — the "
    "cheapest possible full-table verification.",
)
def q_content_checksum(spark, sf_dir):
    M = 9223372036854775807  # 2^63 - 1

    def row_hash(*cols):
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
        ).cast("long")
        return F.pmod(h, F.lit(M))

    def table_sum(df, name):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            # Sum in DECIMAL(38,0): a BIGINT sum of ~2^63-sized row hashes
            # overflows after a handful of rows (ANSI throws — caught by
            # the smoke test's first run); 38 digits hold ~1e12 rows of
            # 2^63 terms with headroom.
            F.expr(
                f"CAST(sum(CAST(__h AS DECIMAL(38,0))) % {M} AS BIGINT)"
            ).alias("checksum"),
        )

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        row_hash(
            F.col("event_id"),
            F.unix_micros(F.col("ts")),
            F.col("user_id"),
            F.col("event_type"),
            cents(F.col("value")),
            F.col("props"),
        ).alias("__h")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        row_hash(
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            cents(F.col("l_extendedprice")),
            F.col("l_returnflag"),
        ).alias("__h")
    )
    dc = _t(spark, sf_dir, "documents").select(
        row_hash(
            F.col("doc_id"),
            F.col("lang"),
            F.col("source"),
            F.md5(F.col("text")),
        ).alias("__h")
    )
    return (
        table_sum(e, "events")
        .unionAll(table_sum(li, "lineitem"))
        .unionAll(table_sum(dc, "documents"))
    )


@register(
    "q_join_nullsafe",
    """WITH l AS (
         SELECT CASE WHEN user_id % 11 = 0 THEN NULL
                     ELSE user_id % 50 END AS k,
                CAST(count(*) AS BIGINT) AS n_left
         FROM events WHERE event_id % 2 = 0 GROUP BY k
       ), r AS (
         SELECT CASE WHEN user_id % 11 = 0 THEN NULL
                     ELSE user_id % 50 END AS k,
                CAST(count(*) AS BIGINT) AS n_right
         FROM events WHERE event_id % 2 = 1 GROUP BY k
       )
       SELECT l.k AS k, l.n_left, r.n_right
       FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""",
    "NULL-SAFE equality join (<=> / IS NOT DISTINCT FROM) — the join "
    "semantics the q_join_* family lacked: standard equality silently "
    "DROPS every NULL-keyed row (NULL = NULL is NULL), but entity "
    "resolution and dimension matching over incomplete keys need the "
    "NULL group to match itself. Both sides derive a deliberately "
    "nullable key (every 11th user → NULL) and pre-aggregate, so the "
    "output carries exactly one NULL-key row proving the match. Scale "
    "note: under <=> NULL hashes like any other value — on NULL-heavy "
    "data it becomes THE skew key, which the pre-aggregation here "
    "bounds to one row per side (the general answer is the null/"
    "not-null split union, or salting as in q_salted_join). Shape: two "
    "filtered aggs over one scan shape, then an equi-join on the "
    "bounded key domain.",
)
def q_join_nullsafe(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    key = F.when(F.col("user_id") % 11 == 0, None).otherwise(
        F.col("user_id") % 50
    )

    def side(par, alias_n):
        return (
            ev.filter(F.pmod(F.col("event_id"), 2) == par)
            .groupBy(key.alias("k"))
            .agg(F.count(F.lit(1)).alias(alias_n))
        )

    le, ri = side(0, "n_left"), side(1, "n_right")
    return le.join(
        ri.withColumnRenamed("k", "rk"), le["k"].eqNullSafe(F.col("rk"))
    ).select("k", "n_left", "n_right")


# =========================================================================
# Directed CONTAINMENT join — the asymmetric sibling of
# q_jaccard_join_exact (an excerpt of a long doc has low Jaccard but
# containment ≈ 1; CC-style pipelines dedup quotes/excerpts with
# containment, not symmetric similarity)
# =========================================================================

#: containment corpus: documents ∪ planted EXCERPTS (first half of the
#: tokens) of every 7th doc — an excerpt's 3-shingle set is a strict
#: subset of its parent's, so C(excerpt → parent) = 1.0 at every SF while
#: Jaccard stays well below the symmetric threshold.
_EXCERPT_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(w[1:greatest(3, len(w) // 2)], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents)
  WHERE doc_id % 7 = 0
"""


@register(
    "q_containment_join",
    f"""WITH docs AS ({_EXCERPT_SQL}),
       s AS (
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))]) AS sh
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM docs)
       )
       SELECT a.doc_id AS id_sub, b.doc_id AS id_sup,
              CAST(len(list_intersect(a.sh, b.sh)) * 1000000
                   // len(a.sh) AS BIGINT) AS containment_ppm
       FROM s a JOIN s b ON a.doc_id <> b.doc_id
       WHERE len(a.sh) >= 8
         AND 10 * len(list_intersect(a.sh, b.sh)) >= 9 * len(a.sh)""",
    "EXACT directed CONTAINMENT self-join at t = 9/10 over 3-gram shingle "
    "sets: C(A→B) = |S(A) ∩ S(B)| / |S(A)| — the asymmetric dedup "
    "relation symmetric Jaccard cannot see (an excerpt inside a long "
    "document has J ≈ |A|/|B| but C = 1; quote/excerpt dedup in CC-style "
    "pipelines keys on containment). Prefix-filter blocking, DIRECTED "
    "variant of q_jaccard_join_exact's PPJoin: shingles globally ordered "
    "by (df ASC, shingle), the CONTAINED side exposes only its first "
    "|A| - ceil(t·|A|) + 1 shingles (if C ≥ t then overlap ≥ ceil(t|A|), "
    "so B must hit A's prefix — recall provably 1, which the all-pairs "
    "oracle verifies outright), the CONTAINING side exposes every "
    "shingle; a size filter (|B| ≥ ceil(t·|A|) — B needs room for the "
    "overlap) prunes before the exact array_intersect verify. Docs with "
    "fewer than 8 shingles are excluded from the contained side (a "
    "1-shingle doc is 'contained' anywhere — noise, not dedup). Exact "
    "integer ppm throughout. Shape: shingle table localCheckpoint'ed "
    "once (feeds df counts, prefix build, both verify sides); the "
    "candidate join is on rare-shingle postings (df ASC ordering makes "
    "the prefix the LEAST frequent shingles), never all-pairs.",
)
def q_containment_join(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", "text"
    )
    w = X.tokens(F.col("text"))
    half = F.expr(
        "array_join(slice(split(trim(text), '\\\\s+'), 1,"
        " greatest(3, size(split(trim(text), '\\\\s+')) div 2)), ' ')"
    )
    excerpt = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), half.alias("text")
    )
    corpus = docs.unionAll(excerpt)
    sets = corpus.select(
        "doc_id", X.word_shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    # The exploded posting table feeds THREE consumers (df counts, the
    # ranked prefix build, the containing-side postings) — checkpoint it
    # so the explode over the shingle arrays runs once, not three times.
    tok = sets.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    ).localCheckpoint(eager=False)
    dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "g")
        .groupBy("doc_id", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "g"))).alias("ordered"))
    )
    # contained-side prefix |A| - ceil(9|A|/10) + 1, exact integer:
    # ceil(9n/10) = (9n + 9) div 10; only docs with >= 8 shingles qualify
    prefix = (
        ranked.filter(F.col("sz") >= 8)
        .select(
            F.col("doc_id").alias("id_sub"),
            F.col("sz").alias("sz_sub"),
            F.explode(
                F.expr(
                    "slice(ordered, 1,"
                    " CAST(sz - (9*sz + 9) div 10 + 1 AS INT))"
                )
            ).alias("p"),
        )
        .select("id_sub", "sz_sub", F.col("p.g").alias("g"))
    ).localCheckpoint(eager=False)
    post = tok.select(
        F.col("doc_id").alias("id_sup"), F.col("sz").alias("sz_sup"), "g"
    )
    cand = (
        prefix.join(
            post,
            (prefix["g"] == post["g"])
            & (prefix["id_sub"] != post["id_sup"])
            # B needs room for the overlap: 10·|B| >= 9·|A|
            & (post["sz_sup"] * 10 >= prefix["sz_sub"] * 9),
        )
        .select("id_sub", "id_sup")
        .distinct()
    )
    sh_sub = sets.select(
        F.col("doc_id").alias("id_sub"), F.col("sh").alias("sh_sub")
    )
    sh_sup = sets.select(
        F.col("doc_id").alias("id_sup"), F.col("sh").alias("sh_sup")
    )
    verified = (
        cand.join(sh_sub, "id_sub")
        .join(sh_sup, "id_sup")
        .select(
            "id_sub",
            "id_sup",
            F.size(F.array_intersect("sh_sub", "sh_sup")).alias("inter"),
            F.size("sh_sub").alias("sz"),
        )
        .filter(10 * F.col("inter") >= 9 * F.col("sz"))
    )
    return verified.select(
        "id_sub",
        "id_sup",
        F.expr("(inter * 1000000) div sz").alias("containment_ppm"),
    )


# =========================================================================
# Total-variation drift — the L1 companion to
# q_ks_drift's sup-norm test, exact by integer cross-multiplication
# =========================================================================


@register(
    "q_tv_drift",
    """WITH b AS (
         SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx,
                max(CAST(round(value * 100) AS BIGINT)) AS mc
         FROM events
       ), binned AS (
         SELECT (CAST(round(value * 100) AS BIGINT) * 20) // (mc + 1)
                    AS bin,
                CASE WHEN epoch_us(ts) <= (mn + mx) // 2 THEN 1 ELSE 0 END
                    AS first_half
         FROM events, b
       ), cells AS (
         SELECT bin,
                CAST(sum(first_half) AS BIGINT) AS a,
                CAST(sum(1 - first_half) AS BIGINT) AS bb
         FROM binned GROUP BY bin
       ), t AS (
         SELECT CAST(sum(a) AS BIGINT) AS n1,
                CAST(sum(bb) AS BIGINT) AS n2,
                CAST(sum(abs(a * (SELECT sum(bb) FROM cells)
                             - bb * (SELECT sum(a) FROM cells)))
                     AS BIGINT) AS num
         FROM cells
       )
       SELECT n1 AS n_first, n2 AS n_second,
              CAST(floor(num::DOUBLE * 1000000 / (2.0 * n1 * n2))
                   AS BIGINT) AS tv_e6
       FROM t""",
    "TOTAL-VARIATION drift between the first-half and second-half value "
    "distributions over 20 equal-width bins — the L1 drift monitor next "
    "to q_ks_drift's sup-norm (KS fires on one shifted quantile, TV on "
    "mass moved anywhere; production drift suites run both). EXACT up "
    "to the final scale: TV = 0.5*sum|a_i/N1 - b_i/N2| cross-multiplies "
    "to sum|a_i*N2 - b_i*N1| / (2*N1*N2), and the numerator is a sum of "
    "exact BIGINT absolute differences (no per-bin float division, no "
    "summation-order hazard) with ONE double division at the end. The "
    "half-split point and the bin width come from a broadcast 1-row "
    "min/max frame. Shape: two events scans (bounds + binning — the "
    "bounds row must exist before the bin map can run) -> 20-cell agg "
    "-> 1 row; both passes are map-side-combined scans.",
)
def q_tv_drift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = ev.agg(
        F.min(us).alias("mn"),
        F.max(us).alias("mx"),
        F.max(cents(F.col("value"))).alias("mc"),
    )
    binned = ev.crossJoin(F.broadcast(b)).select(
        F.expr(
            "(CAST(round(value * 100) AS BIGINT) * 20) div (mc + 1)"
        ).alias("bin"),
        F.when(us <= F.expr("(mn + mx) div 2"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("first_half"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("first_half").alias("a"),
        F.sum(1 - F.col("first_half")).alias("bb"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = cells.select(
        "a",
        "bb",
        F.sum("a").over(w_all).alias("n1"),
        F.sum("bb").over(w_all).alias("n2"),
    ).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.abs(F.col("a") * F.col("n2") - F.col("bb") * F.col("n1"))
        ).alias("num"),
    )
    return t.select(
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        F.floor(
            F.col("num").cast("double")
            * 1000000
            / (2.0 * F.col("n1") * F.col("n2"))
        )
        .cast("long")
        .alias("tv_e6"),
    )


# =========================================================================
# Weekly composition drift — the categorical-mix
# monitor next to q_tv_drift's value-distribution monitor
# =========================================================================


@register(
    "q_mix_drift",
    """WITH wk AS (
         SELECT (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS week_idx,
                event_type,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY week_idx, event_type
       ), tot AS (
         SELECT week_idx, event_type, n,
                CAST(sum(n) OVER (PARTITION BY week_idx) AS BIGINT)
                    AS wn,
                CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                    AS gn,
                CAST(sum(n) OVER () AS BIGINT) AS g
         FROM wk
       )
       SELECT CAST(week_idx AS BIGINT) AS week_idx,
              max(wn) AS n_events,
              CAST(floor((sum(abs(n * g - gn * wn))
                          + max(wn) * (max(g) - sum(gn)))::DOUBLE
                         * 1000000
                         / (2.0 * max(wn) * max(g)))
                   AS BIGINT) AS mix_tv_e6
       FROM tot GROUP BY week_idx""",
    "WEEKLY COMPOSITION (mix) DRIFT: per week, the total-variation "
    "distance between that week's event-type mix and the all-time mix — "
    "the categorical companion to q_tv_drift (which monitors a NUMERIC "
    "distribution between two halves; this monitors the label mix as a "
    "weekly series, the 'did the traffic composition shift' alert). "
    "Exact by the same cross-multiplication: TV = 0.5*sum_t|n_wt/W_w - "
    "G_t/G| cross-multiplies to sum|n*G - G_t*W| / (2*W*G) with an "
    "exact BIGINT numerator summed over the bounded |types| cells and "
    "ONE double division per week. Week keys are the anchored integer "
    "day count (q_wow_growth convention). Shape: one events scan -> "
    "(week, type) hash agg -> three spine windows over the bounded "
    "(weeks x types) domain -> |weeks| rows.",
)
def q_mix_drift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wk = (
        ev.select(
            F.expr(
                "datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7"
            ).alias("week_idx"),
            "event_type",
        )
        .groupBy("week_idx", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_wk = Window.partitionBy("week_idx")
    w_ty = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    tot = wk.select(
        "week_idx",
        "n",
        F.sum("n").over(w_wk).alias("wn"),
        F.sum("n").over(w_ty).alias("gn"),
        F.sum("n").over(w_all).alias("g"),
    )
    # A type absent from a week contributes |0 - G_t/G| to the TV; those
    # missing cells never materialize in the (week, type) aggregate, but
    # their total has the closed form W*(G - sum of present G_t) — no
    # grid densification join needed (caught by the flipped-week hand
    # test: without the term a fully-shifted mix read HALF its true TV).
    return tot.groupBy(
        F.col("week_idx").cast("long").alias("week_idx")
    ).agg(
        F.max("wn").alias("n_events"),
        F.floor(
            (
                F.sum(
                    F.abs(
                        F.col("n") * F.col("g")
                        - F.col("gn") * F.col("wn")
                    )
                )
                + F.max("wn") * (F.max("g") - F.sum("gn"))
            ).cast("double")
            * 1000000
            / (2.0 * F.max("wn") * F.max("g"))
        )
        .cast("long")
        .alias("mix_tv_e6"),
    )


# =========================================================================
# Rendezvous (HRW) hashing reshard audit
# =========================================================================


@register(
    "q_rendezvous_reshard",
    """WITH keys AS (
         SELECT DISTINCT event_id AS k FROM events
       ), scored AS (
         SELECT k, s.s,
                ('0x' || substr(md5(CAST(k AS VARCHAR) || ':'
                                    || CAST(s.s AS VARCHAR)), 1, 14))::BIGINT
                    * 32 + s.s AS enc
         FROM keys CROSS JOIN (SELECT unnest(range(0, 17)) AS s) s
       ), a AS (
         SELECT k,
                CAST(max(CASE WHEN s < 16 THEN enc END) % 32 AS BIGINT)
                    AS shard16,
                CAST(max(enc) % 32 AS BIGINT) AS shard17
         FROM scored GROUP BY k
       )
       SELECT CAST(count(*) AS BIGINT) AS n_keys,
              CAST(count(*) FILTER (WHERE shard16 <> shard17) AS BIGINT)
                  AS n_moved,
              CAST(count(*) FILTER (WHERE shard16 <> shard17) * 1000000
                   // count(*) AS BIGINT) AS moved_ppm,
              CAST(count(*) FILTER (WHERE shard16 <> shard17
                                    AND shard17 <> 16) AS BIGINT)
                  AS n_moved_elsewhere
       FROM a""",
    "RENDEZVOUS (highest-random-weight) hashing reshard audit — the "
    "data-placement scheme whose guarantee makes cluster growth cheap: "
    "each key goes to argmax_s hash(key, s), and when a 17th shard "
    "joins, the ONLY keys that move are those whose new argmax IS the "
    "new shard (≈1/17 of them) — no cascading reshuffle, unlike mod-N "
    "partitioning where (N-1)/N of all keys move. The key measures the "
    "movement rate exactly AND emits n_moved_elsewhere, which the HRW "
    "argument proves ZERO (removing no shard can change the max among "
    "survivors) — a structural invariant the oracle hash-checks rather "
    "than a test asserts. Portable determinism: md5-derived 56-bit "
    "weights (the q_feature_hash/q_group_kfold convention), argmax as "
    "max(weight*32 + s) — ties impossible in practice but broken "
    "toward the higher shard id identically on both engines. Shape: "
    "one 17-way scan-side explode + a keyed max agg — "
    "embarrassingly parallel, |keys|x17 tiny rows, partial-first max — "
    "the audit to run BEFORE committing a placement epoch bump.",
)
def q_rendezvous_reshard(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    keys = ev.select(F.col("event_id").alias("k")).distinct()
    # Encoding A/B (registration day, interleaved min-of-3 at sf0.1):
    # int64 weight (conv of 14 hex chars, *32+s) 1.94 s vs staying in the
    # 34-char hex-string domain for the max agg 2.26 s — the wide string
    # through the partial/final max costs more than the conv parse, so
    # the integer encoding stays (56-bit weight * 32 + s < 2^61: exact).
    scored = keys.select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(16))).alias("s")
    ).select(
        "k",
        "s",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("k").cast("string"),
                            F.col("s").cast("string"),
                        )
                    ),
                    1,
                    14,
                ),
                16,
                10,
            ).cast("long")
            * 32
            + F.col("s")
        ).alias("enc"),
    )
    a = scored.groupBy("k").agg(
        (F.max(F.when(F.col("s") < 16, F.col("enc"))) % 32).alias("shard16"),
        (F.max("enc") % 32).alias("shard17"),
    )
    moved = (F.col("shard16") != F.col("shard17")).cast("long")
    return a.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(moved).alias("n_moved"),
        F.expr(
            "sum(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END) * 1000000"
            " div count(*)"
        ).alias("moved_ppm"),
        F.sum(
            (
                (F.col("shard16") != F.col("shard17"))
                & (F.col("shard17") != 16)
            ).cast("long")
        ).alias("n_moved_elsewhere"),
    )
