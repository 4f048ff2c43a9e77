"""Sketch / ranking / privacy / cogroup / streaming-session operators, and
the KMV/theta family with the top-k state fold.

Same registry contract as queries.py (SURVEY.md §2.9 scope). Determinism
rules (SURVEY §7.4) throughout: exact integer ppm/cents/counts, floor
(`DIV` / `//`) division only — both engines truncate identically on the
all-positive operands used here — and every ORDER BY tied off by a total
order.

What this module adds:

- ``q_gini_impurity`` — class-balance (Gini) impurity of the language
  distribution per source: the dataset-mix health metric a curation
  pipeline tracks per shard. Gini is a RATIONAL statistic
  (1 - Σ(cᵢ/n)²), so unlike entropy it is exactly computable in integer
  ppm with no cross-engine log drift.
- ``q_kanon_suppress`` — k-anonymity suppression over quasi-identifiers
  (nation, market segment): groups smaller than k get their QI columns
  nulled. The privacy primitive next to the existing ``q_pii_redact``
  (which masks direct identifiers); one window shuffle.
- ``q_bm25_topk`` — BM25-style per-document term ranking in EXACT integer
  arithmetic: true tf-saturation (k1=1.2) and length normalization
  (b=0.75) via scaled-integer floor division, and the (N-df+0.5)/(df+0.5)
  idf ODDS kept as an exact rational in ppm instead of its log — per
  term the log is a monotone transform of the odds, so rare-vs-common
  discrimination is preserved while no float (and no non-portable log)
  ever appears; tests pin that the integer pipeline ranks identically
  to real-arithmetic evaluation of the same formula. Complements
  ``q_tfidf_topk`` (pure tf/df) with the production ranking function.
- ``q_cms_heavy_hitters`` — a distributed COUNT-MIN SKETCH built from
  DataFrame ops (depth 4 × width 1024 via seeded xxhash64, one hash-agg
  shuffle, like operators/bloom.py's design), probed for the top-10 exact
  heavy hitters. The sketch's hard guarantee (estimate ≥ true count,
  always) and its ε=2/W error bound are attested Spark-side as boolean
  columns; the exact counts are value-checked against DuckDB.
- ``q_cogroup_asof`` — the CoGroupedData.applyInPandas surface (the
  FOURTH Pandas API next to mapInPandas / grouped-map / WithState, not
  previously exercised): per-user pandas.merge_asof of purchases against
  the latest prior click. Semantically the as-of family (q_asof_join);
  this key pins the cogroup plumbing — two shuffles co-partitioning both
  sides, one Arrow batch per (key, side). Scale note: like grouped-map,
  cogroup loads one whole group per side per batch — fine on bounded
  per-user event counts, giant-key hazard otherwise (the JVM
  union+window as-of in operators/joins.py stays the scale default).
- ``q_stream_session`` — session windows (30 min gap) driven as a REAL
  2-micro-batch stream with watermark + sentinel flush: the streaming
  twin of batch ``q_window_session``, exercising Spark's session-window
  STATE MERGE across micro-batches (a session straddling the batch
  boundary must come out as one row). Oracle = the batch gaps-and-islands
  SQL on the same subset.

Third wave (same module):

- ``q_domain_cap`` — RefinedWeb-style per-domain cap: at most K docs per
  source by a deterministic engine-portable shuffle (md5 of the doc id),
  the exact-K complement of rate-based ``q_stratified_sample``.
- ``q_join_cardinality_estimate`` — exact join-size prediction from
  per-key counts on both sides, the pre-flight skew/cost diagnostic.
- ``q_quantile_bins`` — equal-frequency decile binning via unpartitioned
  ntile: deliberately the EXACT twin (single-partition sort, documented
  anti-pattern at scale) that ``q_approx_quantile``'s boundaries are
  judged against.
- ``q_chi2_cells`` — contingency-table independence audit in exact
  integers: per-cell observed vs independence-expected (micros) and the
  scaled chi-square-numerator deviation; the categorical×categorical
  sibling of ``q_ks_drift``.
- ``q_stream_cms_merge`` — the streaming twin of the count-min key:
  per-micro-batch partial sketches folded through an idempotent
  additive parquet MERGE (``sinks.merge_distributive_parquet``) into a
  sketch bit-identical to the batch build — live mergeability.
- ``q_keyset_pagination`` — seek pagination under a total order, with
  OFFSET confined to a 1-row boundary probe and the page served by a
  pushable row-tuple predicate + TakeOrdered.
- ``q_clamped_running_balance`` — the floor-clamped running balance
  recurrence max(0, b+delta) parallelized via its prefix-sum closed
  form (two stacked windows, one shuffle); property-tested against the
  sequential fold.
- ``q_stream_late_metrics`` — streaming observability: watermark-drop
  accounting read from StreamingQueryProgress
  (numRowsDroppedByWatermark), value-checked against the straggler
  count the oracle computes in plain SQL.
- ``q_capped_balance_fold`` — the TWO-sided clamp (floor and cap),
  which has no window closed form: a grouped-map numpy fold per key,
  pinned against a recursive-CTE oracle — the deliberate counterpart
  proving where ``q_clamped_running_balance``'s identity stops.
- ``q_kmv_theta_sketch`` — mergeable set-expression cardinality
  estimation (operators/kmv.py): k-minimum-values sketches, exact
  DECIMAL estimator arithmetic, union via sketch merge, intersection
  via the theta framework; exact sides oracle-pinned, ±25% accuracy
  attestations deterministic under the seeded hashes.
- ``q_stream_kmv`` — the streaming twin through the new
  ``sinks.merge_topk_parquet`` keyed top-k state fold (truncated
  set-union monoid; folded sketch bit-identical to the batch build,
  property-tested against arbitrary batch splits).
- ``q_stream_leaderboard`` — the descending face of the same fold: a
  continuously-maintained per-series top-10 board with a packed
  (cents, id) total-order key, answering to the batch window oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions import text as X
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import scratch_dir as _scratch_dir
from real_time_rides_data_pipeline_spark.session import scoped_writer_session
from real_time_rides_data_pipeline_spark.streaming.replay import run_to_completion

# =========================================================================
# Dataset-mix health: exact rational Gini impurity
# =========================================================================


@register(
    "q_gini_impurity",
    """WITH cl AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS c
         FROM documents GROUP BY source, lang
       ), s AS (
         SELECT source,
                CAST(sum(c * c) AS BIGINT) AS sumsq,
                CAST(sum(c) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS n_langs
         FROM cl GROUP BY source
       )
       SELECT source, n AS n_docs, n_langs,
              1000000 - (1000000 * sumsq) // (n * n) AS gini_ppm
       FROM s""",
    "Gini impurity of the language mix per source, exact integer ppm: "
    "1e6 - floor(1e6*Σc²/n²). Gini is rational (unlike Shannon entropy, "
    "whose log is not bit-portable across engines), so the impurity a "
    "curation dashboard tracks per shard is reproducible to the last "
    "digit. Two hash-agg shuffles, both map-side combining; the second "
    "groups |sources| rows. No float anywhere. Overflow bound: the "
    "exact path needs 1e6*sumsq ≤ 2^63, i.e. n ≤ 3.0e6 docs per source "
    "(sumsq ≤ n²); past that, pre-scale (sumsq DIV n first) at a "
    "documented ≤1e6/n-ppm precision cost — the bound is per GROUP, not "
    "per corpus, and a corpus tracked per shard/source stays well under "
    "it.",
)
def q_gini_impurity(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    return (
        cl.groupBy("source")
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("sumsq"),
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_langs"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "n_langs",
            F.expr("1000000 - (1000000 * sumsq) DIV (n * n)").alias("gini_ppm"),
        )
    )


# =========================================================================
# Privacy: k-anonymity suppression
# =========================================================================

_KANON_K = 10


@register(
    "q_kanon_suppress",
    f"""SELECT c_custkey,
              CASE WHEN n >= {_KANON_K} THEN c_nationkey END AS nation_qi,
              CASE WHEN n >= {_KANON_K} THEN c_mktsegment END AS segment_qi,
              n AS group_n,
              n < {_KANON_K} AS suppressed
       FROM (SELECT c_custkey, c_nationkey, c_mktsegment,
                    CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
                         AS BIGINT) AS n
             FROM customer)""",
    "k-anonymity suppression (k=10) over the quasi-identifier pair "
    "(nation, market segment): every row whose QI group has fewer than k "
    "members gets both QI columns nulled, so no released row is "
    "re-identifiable to better than k candidates. One window shuffle on "
    "the QI key (count over an unordered partition needs no sort); the "
    "direct-identifier sibling is q_pii_redact. The QI "
    "cardinality (125 groups here) is tiny relative to data, so the "
    "window degenerates to a broadcast-joined group-size dimension.",
)
def q_kanon_suppress(spark, sf_dir):
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    k = F.lit(_KANON_K)
    return c.select(
        "c_custkey",
        F.count(F.lit(1)).over(w).alias("n"),
        "c_nationkey",
        "c_mktsegment",
    ).select(
        "c_custkey",
        F.when(F.col("n") >= k, F.col("c_nationkey")).alias("nation_qi"),
        F.when(F.col("n") >= k, F.col("c_mktsegment")).alias("segment_qi"),
        F.col("n").alias("group_n"),
        (F.col("n") < k).alias("suppressed"),
    )


# =========================================================================
# Ranking: integer-exact BM25
# =========================================================================


@register(
    "q_bm25_topk",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         FROM documents
       ), tf_t AS (
         SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY doc_id, term
       ), dl_t AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
       ), df_t AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_t GROUP BY term
       ), corpus AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
         FROM dl_t
       ), scored AS (
         SELECT t.doc_id, t.term, t.tf, d.df, l.dl,
                ((t.tf * 2200000000000)
                 // (t.tf * 1000000
                     + (120 * (250000
                               + (75 * ((l.dl * 1000000) // c.avgdl))
                                 // 100))
                       // 100))
                * (2 * (c.n_docs - d.df) + 1) // (2 * d.df + 1) AS score_ppm
         FROM tf_t t
         JOIN df_t d ON t.term = d.term
         JOIN dl_t l ON t.doc_id = l.doc_id
         CROSS JOIN corpus c
       )
       SELECT doc_id, term, tf, df, dl, score_ppm, rk
       FROM (SELECT *, row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY score_ppm DESC, tf DESC, term ASC) AS rk
             FROM scored)
       WHERE rk <= 3""",
    "BM25 per-doc top-3 terms, bit-exact: saturation tf*(k1+1)/(tf + "
    "k1*(1-b+b*dl/avgdl)) with k1=1.2, b=0.75 computed in scaled-integer "
    "floor division (ppm), multiplied by the exact idf ODDS "
    "(2(N-df)+1)*1e6 DIV (2df+1) — the rational inside BM25's log, a "
    "monotone surrogate that never touches float. Shuffles: (doc,term) "
    "tf agg, term df agg (vocab-sized, shuffle-joined), doc_id dl agg, "
    "1-row corpus scalar cross-joined, then one window per doc. The "
    "operand chain is overflow-audited at CORPUS scale, not fixture "
    "scale: dl normalizes against a precomputed integer avgdl (so no "
    "dl*N product exists), the idf odds multiply FOLDS INTO its own "
    "divide (sat_ppm ≤ 2.2e6 always, so sat_ppm*(2(N-df)+1) ≤ 4.4e15 "
    "even at N = 1e9 docs), and tf*2.2e12 needs only tf ≤ 4e6 — no "
    "int64 overflow for any realistic corpus.",
)
def q_bm25_topk(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    # Materialize tf ONCE: the static plan otherwise re-derives the
    # scan+explode+tf aggregate for every consumer (df, dl via sum(tf),
    # corpus scalar, scored join — 8 parquet scans / 8 explodes measured
    # without this checkpoint, OPTIMIZATION_r15.md). dl = sum(tf) per doc is
    # exactly the token count per doc, so the exploded token table is
    # aggregated exactly once and never re-read.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(dl) DIV count(1)").alias("avgdl"),
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))  # 1-row scalar join
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "dl",
            F.expr(
                """((tf * 2200000000000L)
                    DIV (tf * 1000000L
                         + (120 * (250000
                                   + (75 * ((dl * 1000000L) DIV avgdl))
                                     DIV 100))
                           DIV 100))
                   * (2 * (n_docs - df) + 1) DIV (2 * df + 1)"""
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "dl", "score_ppm", "rk")
    )


# =========================================================================
# Sketch: distributed count-min with hard-guarantee attestation
# =========================================================================

_CMS_DEPTH = 4
_CMS_WIDTH = 1024

#: Shared by the batch key and its streaming-merge twin: the stream's
#: additive cell merge reconstructs the batch sketch EXACTLY, so both
#: keys answer to the same exact-count oracle.
_CMS_ORACLE = """
   SELECT term, exact_cnt, TRUE AS no_underestimate, TRUE AS within_eps
   FROM (SELECT t AS term, CAST(count(*) AS BIGINT) AS exact_cnt
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
               FROM documents)
         GROUP BY t
         ORDER BY exact_cnt DESC, term ASC
         LIMIT 10)"""


def _cms_attest(tok, sketch):
    """Shared probe/attestation tail for the batch and streaming CMS keys:
    top-10 exact heavy hitters (from ``tok``) probed against ``sketch``,
    with the no-underestimate hard guarantee and the ε=2/W bound attested
    Spark-side. Every insertion increments exactly one cell per sketch
    row, so row 0's cell sum IS the stream length — n_total costs no pass
    over the data."""
    from real_time_rides_data_pipeline_spark.operators.cms import estimate_counts

    total = sketch.filter(F.col("row") == 0).agg(F.sum("cnt").alias("n_total"))
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(10)
    probed = estimate_counts(top, "term", sketch, _CMS_DEPTH, _CMS_WIDTH).crossJoin(
        F.broadcast(total)  # 1-row scalar join
    )
    return probed.select(
        "term",
        "exact_cnt",
        (F.col("est") >= F.col("exact_cnt")).alias("no_underestimate"),
        (
            F.col("est")
            <= F.col("exact_cnt") + F.expr(f"(2 * n_total) DIV {_CMS_WIDTH}")
        ).alias("within_eps"),
    )


@register(
    "q_cms_heavy_hitters",
    _CMS_ORACLE,
    "Distributed count-min sketch (operators/cms.py; depth 4 × width "
    "1024, seeded xxhash64 rows — same public-primitive build as "
    "operators/bloom.py): token "
    "occurrences hash to (row, bucket) cells, ONE map-side-combining "
    "shuffle aggregates cell counts (the sketch is ≤4096 rows regardless "
    "of data size — mergeable across shards by cell-wise +). The top-10 "
    "exact heavy hitters probe it: estimate = min over rows of the cell "
    "count. Driver-checked columns: the exact counts (vs DuckDB) plus "
    "two Spark-side attestations — no_underestimate (est ≥ exact, the "
    "CMS hard guarantee, must ALWAYS hold) and within_eps (est ≤ exact + "
    "2·N/W, the ε=2/W bound). The estimates themselves stay internal "
    "(xxhash64 has no DuckDB twin).",
)
def q_cms_heavy_hitters(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.cms import build_cms

    d = _t(spark, sf_dir, "documents", parallel=True)
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("term"))
    # localCheckpoint: the sketch (≤4096 rows) feeds BOTH the probe join
    # and the n_total derivation — without it each consumer re-runs the
    # scan + tokenization. Net: 2 fact scans (sketch, exact counts).
    sketch = build_cms(tok, "term", _CMS_DEPTH, _CMS_WIDTH).localCheckpoint(
        eager=False
    )
    return _cms_attest(tok, sketch)


@register(
    "q_stream_cms_merge",
    _CMS_ORACLE,
    "STREAMING count-min sketch — the live demonstration of sketch "
    "MERGEABILITY, the property that lets sketches combine across shards: "
    "documents replay as a REAL 2-micro-batch stream; each batch builds "
    "its partial sketch (one map-side-combining aggregate over the "
    "batch) and foreachBatch folds it into a parquet sketch table by "
    "CELL-WISE ADDITION (sinks.merge_distributive_parquet — batch_id-marked "
    "idempotent, because an additive accumulator double-counts under "
    "at-least-once redelivery, and crash-ordered swap). Counts add, so "
    "the merged sketch is BIT-IDENTICAL to the single-pass batch sketch "
    "(pinned in pytest) and the key answers to the SAME exact-count "
    "oracle as q_cms_heavy_hitters. The same shape runs per-shard at "
    "corpus scale: sketch each shard independently, merge 4096-row "
    "tables.",
)
def q_stream_cms_merge(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.operators.cms import build_cms
    from real_time_rides_data_pipeline_spark.queries_ext import _replay_input
    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    d = _t(spark, sf_dir, "documents", parallel=True)
    docs = d.select("doc_id", "text")
    inp = _replay_input(docs, "cmsstream", sf_dir)  # 2 files → 2 batches
    run_dir = _scratch_dir(prefix="cmsstream_run_")
    state, ckpt = f"{run_dir}/sketch", f"{run_dir}/ckpt"
    writer = scoped_writer_session(spark, shuffle_partitions=8)
    stream = parquet_stream(writer, inp, docs.schema, max_files_per_trigger=1)

    def fold(batch_df, batch_id: int) -> None:
        part = build_cms(
            batch_df.select(F.explode(X.tokens(F.col("text"))).alias("term")),
            "term",
            _CMS_DEPTH,
            _CMS_WIDTH,
        )
        merge_distributive_parquet(
            batch_df.sparkSession,
            part,
            state,
            keys=("row", "bucket"),
            agg_spec={"cnt": "sum"},
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))
    sketch = spark.read.parquet(state)
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("term"))
    return _cms_attest(tok, sketch)


# =========================================================================
# CoGrouped applyInPandas: per-user as-of match
# =========================================================================


@register(
    "q_cogroup_asof",
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              c.click_id, c.gap_s
       FROM (SELECT event_id, user_id, ts FROM events
             WHERE event_type = 'purchase') p
       LEFT JOIN LATERAL (
           SELECT c.event_id AS click_id,
                  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
           FROM events c
           WHERE c.event_type = 'click'
             AND c.user_id = p.user_id
             AND c.ts <= p.ts
           ORDER BY c.ts DESC, c.event_id DESC
           LIMIT 1) c ON TRUE""",
    "CoGroupedData.applyInPandas — the fourth Pandas API surface (after "
    "mapInPandas, grouped-map, applyInPandasWithState): purchases and "
    "clicks cogroup per user_id, pandas.merge_asof matches each purchase "
    "to the LATEST click at-or-before it (ties on ts broken by max "
    "event_id via the secondary sort — the same total order the LATERAL "
    "oracle uses). gap_s is exact integer floor-seconds. Plan: both "
    "sides shuffle once to co-partition on user_id, one Arrow batch per "
    "(user, side). Scale caveat as grouped-map: a whole group per batch; "
    "bounded per-user event counts here, JVM union+window as-of "
    "(operators/joins.py) is the giant-key default.",
)
def q_cogroup_asof(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T

    from real_time_rides_data_pipeline_spark.plans.shape import (
        pin_group_partitioning,
    )

    ev = _t(spark, sf_dir, "events")
    # AQE would coalesce this tiny shuffle to ONE partition and serialize
    # all ~1.5k per-user pandas calls (measured 15 s -> 1.6 s at sf0.1) —
    # pin the key-hash width (plans.shape.pin_group_partitioning).
    purchases = pin_group_partitioning(
        ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        ),
        "user_id",
    )
    clicks = pin_group_partitioning(
        ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        ),
        "user_id",
    )
    ts_type = purchases.schema["ts"].dataType
    out_schema = T.StructType(
        [
            T.StructField("purchase_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("purchase_ts", ts_type),
            T.StructField("click_id", T.LongType()),
            T.StructField("gap_s", T.LongType()),
        ]
    )

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left) == 0:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )
        left = left.sort_values(["ts", "event_id"]).rename(
            columns={"event_id": "purchase_id"}
        )
        right = right.sort_values(["ts", "event_id"]).rename(
            columns={"event_id": "click_id", "ts": "click_ts"}
        )[["click_ts", "click_id"]]
        if len(right):
            m = pd.merge_asof(
                left, right, left_on="ts", right_on="click_ts",
                direction="backward",
            )
        else:
            m = left.copy()
            m["click_ts"] = pd.NaT
            m["click_id"] = np.nan
        # Exact floor-seconds: the timedelta is < 2^53 µs, so
        # total_seconds() is exact to the microsecond and floor is safe.
        # NaN (no prior click) survives floor and becomes NA in the
        # nullable Int64 via the Float64 hop (a direct float->Int64
        # astype raises on NaN).
        secs = (m["ts"] - m["click_ts"]).dt.total_seconds()
        gap_s = (
            pd.Series(np.floor(secs.to_numpy(dtype="float64")), index=m.index)
            .astype("Float64")
            .astype("Int64")
        )
        return pd.DataFrame(
            {
                "purchase_id": m["purchase_id"].astype("int64"),
                "user_id": m["user_id"].astype("int64"),
                "purchase_ts": m["ts"],
                "click_id": m["click_id"].astype("Float64").astype("Int64"),
                "gap_s": gap_s,
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(asof, out_schema)
    )


# =========================================================================
# Streaming session windows (real 2-micro-batch stream)
# =========================================================================


@register(
    "q_stream_session",
    """WITH sub AS (
         SELECT user_id, ts, event_id FROM events WHERE event_id % 5 = 0
       ), marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE OR
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS is_new
         FROM sub
       ), islands AS (
         SELECT user_id, ts, event_id,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
         FROM marked
       )
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end,
              CAST(count(*) AS BIGINT) AS n_events
       FROM islands GROUP BY user_id, session_no""",
    "Session windows (30 min gap) as a REAL 2-micro-batch stream — the "
    "streaming twin of batch q_window_session, exercising session-window "
    "STATE MERGE: a session straddling the micro-batch boundary (batch 1 "
    "= pre-Jan-15, batch 2 = rest) must surface as ONE merged row. "
    "Watermark 10 min bounds state; append mode emits a session only "
    "once the watermark proves it closed, so two far-future sentinel "
    "batches (user_id -1/-2, +72/+73 h) flush the tail. "
    "The late batch and both sentinels are PRE-PLACED with mtimes "
    "staggered 4 s apart (the q_stream_stream_join_outer mechanic — "
    "FileStreamSource's mtime ordering replays the identical four-batch "
    "schedule, the input memoizes immutable, and one "
    "processAllAvailable replaces four). Sentinel rows are filtered "
    "from the SINK table, never in-stream (a pushed-down filter would "
    "starve the watermark). Oracle = batch gaps-and-islands on the "
    "same subset.",
)
def q_stream_session(spark, sf_dir):
    import os
    import time as _time
    import uuid

    from real_time_rides_data_pipeline_spark.queries_ext import _REPLAY_INPUTS
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
    from real_time_rides_data_pipeline_spark.streaming.replay import (
        append_sentinel_file,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("user_id", "ts", "event_id")
    )
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    # Input prep is a pure function of sf_dir. The late batch and the two
    # sentinel files are PRE-PLACED with mtimes staggered 4 s apart (the
    # q_stream_stream_join_outer mechanic: FileStreamSource orders files
    # by modification time, so one drain replays the early/late/sent/sent
    # four-batch schedule) —
    # the monitored dir is IMMUTABLE, so the whole thing memoizes and
    # each invocation is a single stream run with a fresh checkpoint.
    stage = _REPLAY_INPUTS.get(("sesstream_pre", sf_dir, 0))
    if stage is None:
        work0 = _scratch_dir(prefix="sesstream_pre_")
        inp0 = f"{work0}/in"
        ev.filter(F.col("ts") < cutoff).coalesce(1).write.parquet(inp0)
        # Positively identify the early file by listing BETWEEN the two
        # writes — an mtime sort can tie on coarse-granularity
        # filesystems and swap the early/late re-stamp.
        early_files = {
            f for f in os.listdir(inp0) if f.endswith(".parquet")
        }
        ev.filter(F.col("ts") >= cutoff).coalesce(1).write.mode(
            "append"
        ).parquet(inp0)
        max_us = ev.agg(
            F.unix_micros(F.max("ts").cast("timestamp"))
        ).first()[0]
        now = _time.time()
        for f in (f for f in os.listdir(inp0) if f.endswith(".parquet")):
            t = now - 16 if f in early_files else now - 12
            os.utime(f"{inp0}/{f}", (t, t))
        for i, (hours, uid) in enumerate(((72, -1), (73, -2))):
            append_sentinel_file(
                inp0,
                ev.schema,
                "ts",
                max_us + hours * 3_600_000_000,
                {"user_id": uid, "event_id": -1},
                tag=str(hours),
            )
            newest = max(
                (f for f in os.listdir(inp0) if f.endswith(".parquet")),
                key=lambda f: os.path.getmtime(f"{inp0}/{f}"),
            )
            t = now - 8 + i * 4
            os.utime(f"{inp0}/{newest}", (t, t))
        stage = work0
        _REPLAY_INPUTS[("sesstream_pre", sf_dir, 0)] = stage
    inp = f"{stage}/in"

    schema = ev.schema
    writer = scoped_writer_session(spark, shuffle_partitions=8)
    stream = parquet_stream(writer, inp, schema, max_files_per_trigger=1)
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("event_id").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    name = f"sesstream_{uuid.uuid4().hex[:8]}"
    run_to_completion(
        sessions.writeStream.format("memory")
        .queryName(name)
    )
    return writer.table(name).filter(F.col("user_id") >= 0)


# =========================================================================
# Curation: deterministic per-domain cap (RefinedWeb-style)
# =========================================================================

_DOMAIN_CAP = 20


@register(
    "q_domain_cap",
    f"""SELECT doc_id, source, pick_rank
       FROM (SELECT doc_id, source,
                    row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ) AS pick_rank
             FROM documents)
       WHERE pick_rank <= {_DOMAIN_CAP}""",
    "Per-domain cap (RefinedWeb/FineWeb curation stage): keep at most "
    f"{_DOMAIN_CAP} documents per source, chosen by a deterministic "
    "engine-portable shuffle — md5 of the doc id's decimal string (md5 is "
    "bit-identical in Spark and DuckDB, unlike xxhash64), doc_id "
    "tie-break. Unlike q_stratified_sample's RATE-based thinning this is "
    "an exact-K guarantee per group, the shape used to stop any one "
    "domain from dominating a pretraining mix. One window shuffle on "
    "source; rank computation is a WindowGroupLimit (top-K per group "
    "pushed below the full sort) at any scale.",
)
def q_domain_cap(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= _DOMAIN_CAP)
    )


# =========================================================================
# Planner diagnostic: exact join-cardinality prediction
# =========================================================================


@register(
    "q_join_cardinality_estimate",
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_click
                  FROM events WHERE event_type = 'click' GROUP BY user_id),
            v AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_view
                  FROM events WHERE event_type = 'view' GROUP BY user_id)
       SELECT c.user_id, c.n_click, v.n_view,
              c.n_click * v.n_view AS pair_count
       FROM c JOIN v ON c.user_id = v.user_id""",
    "Exact join-cardinality prediction — the planner/skew diagnostic run "
    "BEFORE a big key join: per-key row counts on both sides, multiplied "
    "= exactly how many rows the equi-join on that key will produce, "
    "without executing it. The two per-key aggregates shuffle once each "
    "(map-side combined) and join at |keys| rows — this costs "
    "two count-aggregates instead of the join's full output, which is "
    "how you discover the 10^12-row key BEFORE it takes the cluster "
    "down (companion to q_skew_report's single-side view).",
)
def q_join_cardinality_estimate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_view"))
    )
    return clicks.join(views, "user_id").select(
        "user_id",
        "n_click",
        "n_view",
        (F.col("n_click") * F.col("n_view")).alias("pair_count"),
    )


# =========================================================================
# Feature engineering: equal-frequency binning
# =========================================================================


@register(
    "q_quantile_bins",
    """WITH t AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
         FROM events
       )
       SELECT bin,
              CAST(count(*) AS BIGINT) AS n,
              min(cents) AS lo_cents,
              max(cents) AS hi_cents
       FROM (SELECT cents,
                    ntile(10) OVER (ORDER BY cents, event_id) AS bin
             FROM t)
       GROUP BY bin""",
    "Equal-frequency binning (decile feature buckets) over value-cents: "
    "ntile(10) over the total order (cents, event_id) then per-bin "
    "count/lo/hi — the discretization stage of feature pipelines and the "
    "exact twin of what approx_percentile boundaries approximate. The "
    "UNPARTITIONED ntile forces a single-partition sort — correct but "
    "the documented anti-pattern on large inputs (see q_approx_quantile for "
    "the scale path: approx boundaries + a narrow bucket-assign map); "
    "this key exists to pin the exact semantics the approximation is "
    "judged against. Ten output rows.",
)
def q_quantile_bins(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        cents(F.col("value")).alias("cents"), "event_id"
    )
    w = Window.orderBy("cents", "event_id")
    return (
        ev.select("cents", F.ntile(10).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# =========================================================================
# Statistical audit: contingency-table independence deviations
# =========================================================================


@register(
    "q_chi2_cells",
    """WITH t AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) >= 5000 AS hi
         FROM events
       ), cell AS (
         SELECT event_type, hi, CAST(count(*) AS BIGINT) AS observed
         FROM t GROUP BY event_type, hi
       ), tot AS (
         SELECT CAST(sum(observed) AS BIGINT) AS n FROM cell
       ), rt AS (
         SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_tot
         FROM cell GROUP BY event_type
       ), ct AS (
         SELECT hi, CAST(sum(observed) AS BIGINT) AS col_tot
         FROM cell GROUP BY hi
       )
       SELECT c.event_type, c.hi, c.observed,
              ((rt.row_tot * 1000000) // tot.n) * ct.col_tot AS expected_micros,
              c.observed * tot.n - rt.row_tot * ct.col_tot AS dev_scaled
       FROM cell c
       JOIN rt ON c.event_type = rt.event_type
       JOIN ct ON c.hi = ct.hi
       CROSS JOIN tot""",
    "Contingency-table independence audit (event_type × high-value flag): "
    "per cell, the observed count, the independence-expected count in "
    "integer micros (((row_tot*1e6) DIV n) * col_tot — the row share is "
    "floored FIRST so the largest operand is row_tot*1e6, overflow-safe "
    "through 9.2e12 rows; the floor costs < col_tot micros, i.e. < 1 "
    "count), and the scaled deviation observed*n - row_tot*col_tot (the "
    "chi-square numerator's exact integer core, positive = "
    "over-represented; needs n ≤ 3.0e9 events — past that, emit the "
    "deviation in ppm of n instead). The categorical×categorical "
    "drift/association primitive next to q_ks_drift's numeric two-sample "
    "test. One cell aggregate (domain-bounded: |types|×2 rows) then "
    "re-aggregates over CELLS, not data; the fact table is scanned once.",
)
def q_chi2_cells(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    cell = (
        ev.select("event_type", (cents(F.col("value")) >= 5000).alias("hi"))
        .groupBy("event_type", "hi")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    cell = cell.localCheckpoint(eager=False)  # 10 rows; reused 4 ways below
    tot = cell.agg(F.sum("observed").alias("n"))
    rt = cell.groupBy("event_type").agg(F.sum("observed").alias("row_tot"))
    ct = cell.groupBy("hi").agg(F.sum("observed").alias("col_tot"))
    return (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hi")
        .crossJoin(F.broadcast(tot))  # 1-row scalar join
        .select(
            "event_type",
            "hi",
            "observed",
            F.expr("((row_tot * 1000000L) DIV n) * col_tot").alias(
                "expected_micros"
            ),
            F.expr("observed * n - row_tot * col_tot").alias("dev_scaled"),
        )
    )


# =========================================================================
# Serving: keyset (seek) pagination
# =========================================================================


@register(
    "q_keyset_pagination",
    """WITH b AS (SELECT o_orderdate AS bd, o_orderkey AS bk
                  FROM orders
                  ORDER BY o_orderdate, o_orderkey
                  LIMIT 1 OFFSET 199)
       SELECT o.o_orderkey, o.o_orderdate,
              CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents
       FROM orders o, b
       WHERE (o.o_orderdate, o.o_orderkey) > (b.bd, b.bk)
       ORDER BY o.o_orderdate, o.o_orderkey
       LIMIT 100""",
    "Keyset (seek) pagination — page 3 of orders under the total order "
    "(o_orderdate, o_orderkey), page size 100: the last row of page 2 is "
    "fetched once (LIMIT 1 OFFSET 199 — OFFSET confined to a 1-row "
    "boundary seek, never to the page itself), broadcast as a scalar, "
    "and the page is `(date, key) > (boundary)` + TakeOrdered(100). "
    "This is THE serving pattern OFFSET-pagination anti-patterns into: "
    "OFFSET n scans-and-discards n rows on every page (page 10⁶ reads "
    "10⁸ rows), while the keyset predicate does constant work per page. "
    "The predicate is written DECOMPOSED (date > bd OR (date = bd AND "
    "key > bk), plus the implied date >= bd conjunct) rather than as a "
    "struct comparison, because Catalyst does not derive per-field "
    "bounds from a row-tuple compare. NOTE on pruning: here the "
    "boundary arrives via a broadcast scalar join, which partition "
    "pruning does not see; in production the boundary is a LITERAL "
    "(the previous page's last row, known to the client), and then the "
    "date >= bd conjunct prunes a date-partitioned table at "
    "plan time. The in-plan seek only makes the key self-contained.",
)
def q_keyset_pagination(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", cents(F.col("o_totalprice")).alias("total_cents")
    )
    boundary = (
        o.orderBy("o_orderdate", "o_orderkey")
        .select(F.col("o_orderdate").alias("bd"), F.col("o_orderkey").alias("bk"))
        .offset(199)
        .limit(1)
    )
    return (
        o.crossJoin(F.broadcast(boundary))  # 1-row scalar join
        # Decomposed keyset predicate with the redundant leading-column
        # bound — the form that prunes when the boundary is a literal.
        .filter(
            (F.col("o_orderdate") >= F.col("bd"))
            & (
                (F.col("o_orderdate") > F.col("bd"))
                | (
                    (F.col("o_orderdate") == F.col("bd"))
                    & (F.col("o_orderkey") > F.col("bk"))
                )
            )
        )
        .select("o_orderkey", "o_orderdate", "total_cents")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


# =========================================================================
# Stateful-scan algebra: clamped running balance via the prefix identity
# =========================================================================


@register(
    "q_clamped_running_balance",
    """WITH t AS (
         SELECT user_id, ts, event_id,
                CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
         FROM events
         WHERE event_type IN ('purchase', 'error')
       ), s1 AS (
         SELECT user_id, ts, event_id, delta,
                CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS prefix
         FROM t
       ), s2 AS (
         SELECT user_id, event_id, delta, prefix,
                min(prefix) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS min_prefix
         FROM s1
       )
       SELECT user_id, event_id, delta,
              prefix - least(min_prefix, 0) AS balance_cents
       FROM s2""",
    "Floor-clamped running balance — credits add, debits subtract, the "
    "balance never goes below zero (wallets, rate-limit token buckets, "
    "inventory): the recurrence b_i = max(0, b_{i-1} + delta_i) looks "
    "sequentially dependent (non-associative, not a window aggregate on "
    "its face), but the ONE-SIDED clamp admits the closed form "
    "b_i = S_i - min(0, min_{j<=i} S_j) over prefix sums S — so it runs "
    "as two stacked window aggregates over a SINGLE hash shuffle on "
    "user_id, fully parallel at any scale (brute-force fold equality is "
    "property-tested). The TWO-SIDED clamp (floor and cap) has no such "
    "closed form — that genuinely sequential case is what "
    "applyInPandasWithState exists for (q_stateful_running). Exact "
    "integer cents throughout.",
)
def q_clamped_running_balance(spark, sf_dir):
    from pyspark.sql import Window

    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents(F.col("value")))
        .otherwise(-cents(F.col("value")))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.select(
        "user_id",
        "ts",
        "event_id",
        "delta",
        F.sum("delta").over(w).alias("prefix"),
    ).withColumn("min_prefix", F.min("prefix").over(w))
    return s.select(
        "user_id",
        "event_id",
        "delta",
        (F.col("prefix") - F.least(F.col("min_prefix"), F.lit(0))).alias(
            "balance_cents"
        ),
    )


# =========================================================================
# Streaming observability: watermark-drop accounting from query progress
# =========================================================================


@register(
    "q_stream_late_metrics",
    """SELECT CAST(count(*) AS BIGINT) AS n_output,
              CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
                   AS BIGINT) AS n_dropped_late
       FROM events WHERE event_id % 20 = 0""",
    "Streaming OBSERVABILITY: the watermark-drop accounting every "
    "production stream monitors, read from StreamingQueryProgress "
    "(stateOperators[].numRowsDroppedByWatermark) rather than inferred "
    "from output diffs. The q_watermark scenario re-runs (batch 1 "
    "advances the watermark, batch 2 carries every early event again as "
    "a straggler stamped 72 h back), and the key emits (rows written, "
    "rows dropped by watermark) as a 1-row table — the dropped count "
    "must equal the straggler count EXACTLY, which the oracle computes "
    "as the early-event count in plain SQL. Complements q_observed_"
    "metrics (batch df.observe): this is the STREAMING metrics surface, "
    "and the pattern (progress JSON → metric table → alert join) is how "
    "late-data SLOs are enforced at any scale.",
)
def q_stream_late_metrics(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import stream_dedup
    from real_time_rides_data_pipeline_spark.queries_ext import (
        _wm_staged_input,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    # Shared pre-placed replay input with q_watermark (early batch,
    # zero-row spacer, late+stragglers batch — see _wm_staged_input for
    # the watermark-commit-lag rationale); one processAllAvailable
    # replays the schedule and the drop metric reads identically.
    inp, schema = _wm_staged_input(spark, sf_dir)
    run_dir = _scratch_dir(prefix="latemetrics_run_")
    out, ckpt = f"{run_dir}/out", f"{run_dir}/ckpt"
    # Width 2 per a state-width A/B (4 -> 2 = 3.05 -> 2.53 s
    # min-of-2 at sf0.1) — same sizing rationale as q_watermark's twin.
    writer = scoped_writer_session(spark, shuffle_partitions=2)
    stream = parquet_stream(writer, inp, schema, max_files_per_trigger=1)
    deduped = stream_dedup(stream, keys=("event_id", "ts"), event_time_col="ts")
    q = run_to_completion(
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    n_dropped = sum(
        so.numRowsDroppedByWatermark
        for p in q.recentProgress
        for so in p.stateOperators
    )
    n_output = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [(n_output, n_dropped)], "n_output long, n_dropped_late long"
    )


# =========================================================================
# Stateful-scan algebra, part 2: the clamp WITHOUT a closed form
# =========================================================================

_CAP_CENTS = 20_000  # $200 bucket capacity


@register(
    "q_capped_balance_fold",
    f"""WITH RECURSIVE t AS (
         SELECT user_id, event_id,
                CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE -CAST(round(value * 100) AS BIGINT) END AS delta,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events
         WHERE event_type IN ('purchase', 'error')
       ), r AS (
         SELECT user_id, event_id, rn, delta,
                least(greatest(delta, 0), {_CAP_CENTS}) AS balance_cents
         FROM t WHERE rn = 1
         UNION ALL
         SELECT t.user_id, t.event_id, t.rn, t.delta,
                least(greatest(r.balance_cents + t.delta, 0), {_CAP_CENTS})
         FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
       )
       SELECT user_id, event_id, delta, balance_cents FROM r""",
    "TWO-SIDED clamped running balance (floor 0, cap $200 — the token "
    "bucket / bounded wallet): b_i = min(cap, max(0, b_(i-1) + delta)). "
    "Unlike the one-sided clamp (q_clamped_running_balance's prefix "
    "identity) this recurrence has NO window-expressible closed form — "
    "min and max compose into a genuinely order-dependent fold — so the "
    "engine runs it as a grouped-map Pandas fold: one hash shuffle "
    "co-locates each user, an int64 numpy loop folds the (ts, event_id)-"
    "sorted deltas, keys spread across workers via the pinned "
    "partitioning (plans.shape.pin_group_partitioning). The oracle is a "
    "RECURSIVE CTE walking rn -> rn+1 — exponentially slower per step "
    "but exact, which is the point: the sequential semantics are pinned "
    "by an engine that executes them a completely different way. Scale: "
    "per-key state is one int, group fold is O(rows-per-key) — the same "
    "access pattern applyInPandasWithState uses for the streaming twin "
    "(q_stateful_running); giant single keys are the documented "
    "grouped-map hazard.",
)
def q_capped_balance_fold(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.plans.shape import (
        pin_group_partitioning,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents(F.col("value")))
        .otherwise(-cents(F.col("value")))
        .alias("delta"),
    )

    cap = _CAP_CENTS

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        deltas = pdf["delta"].to_numpy(dtype="int64")
        out = np.empty(len(deltas), dtype="int64")
        b = 0
        for i, d in enumerate(deltas):
            b = min(cap, max(0, b + int(d)))
            out[i] = b
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].astype("int64"),
                "event_id": pdf["event_id"].astype("int64"),
                "delta": deltas,
                "balance_cents": out,
            }
        )

    return (
        pin_group_partitioning(t, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            fold,
            "user_id long, event_id long, delta long, balance_cents long",
        )
    )


# =========================================================================
# KMV / theta sketch — set-expression cardinality estimation
# =========================================================================


@register(
    "q_kmv_theta_sketch",
    """SELECT CAST(256 AS BIGINT) AS k,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                       THEN event_id END) AS BIGINT)
                  AS exact_a,
              CAST(count(DISTINCT CASE WHEN CAST(round(value * 100) AS BIGINT)
                                            % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_b,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                        AND CAST(round(value * 100) AS BIGINT)
                                            % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_inter,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                        OR CAST(round(value * 100) AS BIGINT)
                                           % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_union,
              TRUE AS est_a_ok, TRUE AS est_b_ok,
              TRUE AS est_union_ok, TRUE AS est_inter_ok
       FROM events""",
    "KMV / THETA sketch — mergeable set-expression cardinality estimation, "
    "the missing sketch next to HLL (union-only distinct counts) and CMS "
    "(frequencies): k=256 minimum unsigned xxhash64 values per set (A = "
    "purchase events, B = even-cents events), N̂ = (k−1)·2^64 div θ, the "
    "UNION estimated from the merged sketch (mergeability by "
    "construction), the INTERSECTION from the theta framework (common "
    "sketch values strictly below min(θ_A, θ_B), scaled by 2^64 div θ) — "
    "all estimator arithmetic exact DECIMAL(38,0), no float division. "
    "The ORACLE pins the four exact cardinalities; the estimates "
    "themselves use Spark-specific xxhash64, so their quality is "
    "attested as booleans the oracle pins to literal TRUE: every "
    "estimate within ±25% of exact (RSE 1/√255 ≈ 6.3%; measured worst "
    "case across sf0.001/0.01/0.1 is 13% — seeded hashes make the check "
    "deterministic; a sketch that never fills is exact by construction). "
    "Shape: each sketch is one distinct + TakeOrderedAndProject "
    "(per-partition k-heaps, no global sort); every downstream op runs "
    "on ≤ 256-row frames; the exact sides are one conditional "
    "count-distinct pass. operators/kmv.py.",
)
def q_kmv_theta_sketch(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.operators import kmv

    ev = _t(spark, sf_dir, "events")
    in_a = F.col("event_type") == "purchase"
    in_b = cents(F.col("value")) % 2 == 0
    A = ev.filter(in_a).select("event_id")
    B = ev.filter(in_b).select("event_id")
    # Each sketch feeds THREE estimates (own, union, intersection); no
    # localCheckpoint pinning here — the estimates combine into ONE final
    # plan where the identical sketch subtrees dedupe via ReusedExchange,
    # so eager checkpointing only adds materialization jobs (A/B at the
    # 64x probe factor: 5.3 s pinned vs 5.1 s unpinned in adjacent
    # windows — no win to buy, Catalyst already has the reuse).
    sk_a, sk_b = kmv.kmv_sketch(A, "event_id"), kmv.kmv_sketch(B, "event_id")
    est_a = kmv.kmv_estimate(sk_a).select(F.col("est").alias("est_a"))
    est_b = kmv.kmv_estimate(sk_b).select(F.col("est").alias("est_b"))
    est_u = kmv.kmv_estimate(kmv.kmv_union(sk_a, sk_b)).select(
        F.col("est").alias("est_u")
    )
    est_i = kmv.kmv_intersect_estimate(sk_a, sk_b).select(
        F.col("est").alias("est_i")
    )
    # event_id is the fixture's PRIMARY KEY, so the four exact attestation
    # sides reduce to plain conditional counts — the oracle states the
    # general count(DISTINCT …) contract, the plan exploits the key
    # constraint to avoid a 4-way Expand + distinct shuffle of every row
    # (measured at the 64x probe factor: 10.0 → 3.8 s for the whole key,
    # slope 0.57 → 0.34).
    exact = ev.agg(
        F.sum(in_a.cast("long")).alias("exact_a"),
        F.sum(in_b.cast("long")).alias("exact_b"),
        F.sum((in_a & in_b).cast("long")).alias("exact_inter"),
        F.sum((in_a | in_b).cast("long")).alias("exact_union"),
    )

    def ok(est, exact_col):
        return (
            F.abs(F.col(est) - F.col(exact_col)) * 4 <= F.col(exact_col)
        )

    return (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(est_i))
        .select(
            F.lit(256).cast("long").alias("k"),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.col("exact_union").cast("long").alias("exact_union"),
            ok("est_a", "exact_a").alias("est_a_ok"),
            ok("est_b", "exact_b").alias("est_b_ok"),
            ok("est_u", "exact_union").alias("est_union_ok"),
            ok("est_i", "exact_inter").alias("est_inter_ok"),
        )
    )


@register(
    "q_stream_kmv",
    """SELECT CAST(256 AS BIGINT) AS k,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                       THEN event_id END) AS BIGINT)
                  AS exact_a,
              CAST(count(DISTINCT CASE WHEN CAST(round(value * 100) AS BIGINT)
                                            % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_b,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                        AND CAST(round(value * 100) AS BIGINT)
                                            % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_inter,
              CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                        OR CAST(round(value * 100) AS BIGINT)
                                           % 2 = 0
                                       THEN event_id END) AS BIGINT)
                  AS exact_union,
              TRUE AS est_a_ok, TRUE AS est_b_ok,
              TRUE AS est_union_ok, TRUE AS est_inter_ok
       FROM events""",
    "STREAMING KMV/theta sketch — the live demonstration that a TOP-K "
    "STATE (not a per-column monoid) streams through a keyed fold: "
    "events replay as a REAL 2-micro-batch stream, each batch reduces to "
    "per-set partial sketches (k smallest distinct unsigned hashes, one "
    "rank window over the batch), and foreachBatch folds them through "
    "sinks.merge_topk_parquet (truncated set-union — associative, "
    "commutative, idempotent, so the folded sketch is BIT-IDENTICAL to "
    "the batch build; batch_id-idempotent, crash-ordered swap). The "
    "folded sketches answer to the SAME oracle and ±25% attestations as "
    "q_kmv_theta_sketch. This is the continuously-maintained "
    "distinct-cardinality dashboard: per-shard sketches stream in, "
    "|keys|·k state, set-expression estimates on demand, no rescan.",
)
def q_stream_kmv(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.operators import kmv
    from real_time_rides_data_pipeline_spark.queries_ext import _replay_input
    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_topk_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
    from pyspark.sql import Window as W

    K = 256
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    inp = _replay_input(ev, "kmvstream", sf_dir)  # 2 files → 2 batches
    run_dir = _scratch_dir(prefix="kmvstream_run_")
    state, ckpt = f"{run_dir}/sketch", f"{run_dir}/ckpt"
    writer = scoped_writer_session(spark, shuffle_partitions=4)
    stream = parquet_stream(writer, inp, ev.schema, max_files_per_trigger=1)

    def partial_sketches(batch_df):
        in_a = F.col("event_type") == "purchase"
        in_b = cents(F.col("value")) % 2 == 0
        tagged = batch_df.select(
            F.when(in_a, "a").otherwise(None).alias("ta"),
            F.when(in_b, "b").otherwise(None).alias("tb"),
            kmv.unsigned_ordered_hash(F.col("event_id")).alias("v"),
        )
        rows = tagged.select(
            F.explode(
                F.array_compact(F.array(F.col("ta"), F.col("tb")))
            ).alias("set_tag"),
            "v",
        ).distinct()
        w = W.partitionBy("set_tag").orderBy("v")
        return (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= K)
            .drop("__rn")
        )

    def fold(batch_df, batch_id: int) -> None:
        merge_topk_parquet(
            batch_df.sparkSession,
            partial_sketches(batch_df),
            state,
            keys=("set_tag",),
            order_col="v",
            k=K,
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))

    # The folded sketch feeds EIGHT downstream references (est_a, est_b,
    # the union's two sides, and the intersection's ta/tb/common joins) —
    # without materialization the final plan re-scans the state parquet 8×
    # (OPTIMIZATION_r15.md). One eager localCheckpoint of the ≤ 2k-row sketch
    # turns that into one scan + in-memory reuse (guide §5); the folded
    # state is computed fresh by the replay above on every invocation.
    folded = spark.read.parquet(state).localCheckpoint(eager=True)
    sk_a = folded.filter(F.col("set_tag") == "a").select("v")
    sk_b = folded.filter(F.col("set_tag") == "b").select("v")
    est_a = kmv.kmv_estimate(sk_a, k=K).select(F.col("est").alias("est_a"))
    est_b = kmv.kmv_estimate(sk_b, k=K).select(F.col("est").alias("est_b"))
    est_u = kmv.kmv_estimate(kmv.kmv_union(sk_a, sk_b, k=K), k=K).select(
        F.col("est").alias("est_u")
    )
    est_i = kmv.kmv_intersect_estimate(sk_a, sk_b, k=K).select(
        F.col("est").alias("est_i")
    )
    in_a = F.col("event_type") == "purchase"
    in_b = cents(F.col("value")) % 2 == 0
    # event_id is the fixture PK — exact sides as conditional counts (the
    # q_kmv_theta_sketch argument).
    exact = ev.agg(
        F.sum(in_a.cast("long")).alias("exact_a"),
        F.sum(in_b.cast("long")).alias("exact_b"),
        F.sum((in_a & in_b).cast("long")).alias("exact_inter"),
        F.sum((in_a | in_b).cast("long")).alias("exact_union"),
    )

    def ok(est, exact_col):
        return F.abs(F.col(est) - F.col(exact_col)) * 4 <= F.col(exact_col)

    return (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(est_i))
        .select(
            F.lit(256).cast("long").alias("k"),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.col("exact_union").cast("long").alias("exact_union"),
            ok("est_a", "exact_a").alias("est_a_ok"),
            ok("est_b", "exact_b").alias("est_b_ok"),
            ok("est_u", "exact_union").alias("est_union_ok"),
            ok("est_i", "exact_inter").alias("est_inter_ok"),
        )
    )


@register(
    "q_stream_leaderboard",
    """SELECT event_type,
              CAST(rn AS BIGINT) AS rank,
              event_id,
              c AS value_cents
       FROM (SELECT event_type, event_id,
                    CAST(round(value * 100) AS BIGINT) AS c,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY round(value * 100) DESC,
                                                event_id DESC) AS rn
             FROM events)
       WHERE rn <= 10""",
    "STREAMING LEADERBOARD — the descending face of the keyed top-k "
    "state fold: per event_type, the 10 highest-value events maintained "
    "across a REAL 2-micro-batch replay through sinks.merge_topk_parquet "
    "(descending=True). The ordering key packs (cents, event_id) into "
    "one BIGINT (cents·2^31 + id; id ∈ [0, 2^31) and cents ≥ 0 enforced "
    "in-plan via raise_error — the q_ohlc_bars packing precedent) so the "
    "fold's single order column carries a TOTAL order "
    "(ties broken by higher event_id) and unpacks losslessly for the "
    "output. Truncated set-union mergeability makes the folded board "
    "bit-identical to the batch top-10, so the key answers to the plain "
    "batch window oracle. Shape: per-batch rank-window partials (≤ "
    "|types|·10 rows enter the merge), state bounded at |types|·10; the "
    "read-back rank window runs over that tiny table. This is "
    "the continuously-maintained leaderboard every ops dashboard wants — "
    "no rescans, crash-safe, replay-idempotent.",
)
def q_stream_leaderboard(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.queries_ext import _replay_input
    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_topk_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
    from pyspark.sql import Window as W

    K = 10
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    inp = _replay_input(ev, "lbstream", sf_dir)  # 2 files → 2 batches
    run_dir = _scratch_dir(prefix="lbstream_run_")
    state, ckpt = f"{run_dir}/board", f"{run_dir}/ckpt"
    writer = scoped_writer_session(spark, shuffle_partitions=4)
    stream = parquet_stream(writer, inp, ev.schema, max_files_per_trigger=1)

    def partials(batch_df):
        # Packing preconditions enforced IN the plan (the _packed_bar_order
        # precedent): event_id must fit 31 bits (a wider id would wrap via
        # pmod — wrong tie-break AND wrong unpacked id), and cents must be
        # non-negative (`pk div 2^31` truncates toward zero, but the pack
        # requires floor — negative cents would mis-unpack). Loud failure,
        # never a silent wrap.
        guarded_id = F.when(
            (F.col("event_id") >= 0) & (F.col("event_id") < (1 << 31)),
            F.col("event_id"),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "packed leaderboard key needs event_id in [0, 2^31); "
                    "use a struct (cents, event_id) ordering key instead"
                )
            ).cast("long")
        )
        c = cents(F.col("value"))
        guarded_c = F.when(c >= 0, c).otherwise(
            F.raise_error(
                F.lit(
                    "packed leaderboard key needs non-negative cents: "
                    "pk div 2^31 truncates toward zero, the pack needs floor"
                )
            ).cast("long")
        )
        packed = guarded_c * F.lit(1 << 31) + guarded_id
        w = W.partitionBy("event_type").orderBy(F.col("pk").desc())
        return (
            batch_df.select("event_type", packed.alias("pk"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= K)
            .drop("__rn")
        )

    def fold(batch_df, batch_id: int) -> None:
        merge_topk_parquet(
            batch_df.sparkSession,
            partials(batch_df),
            state,
            keys=("event_type",),
            order_col="pk",
            k=K,
            descending=True,
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))
    board = spark.read.parquet(state)
    w = W.partitionBy("event_type").orderBy(F.col("pk").desc())
    return board.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("rank"),
        F.pmod(F.col("pk"), F.lit(1 << 31)).alias("event_id"),
        F.expr(f"pk div {1 << 31}").alias("value_cents"),
    )


# =========================================================================
# Cramér's V — the normalized effect size over the chi-square
# contingency core (q_chi2_cells emits the exact integer deviations; this
# key reduces them to the [0,1] association strength analysts compare
# across tables of different size/shape)
# =========================================================================


@register(
    "q_cramers_v",
    """WITH t AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) >= 5000 AS hi
         FROM events
       ), cell AS (
         SELECT event_type, hi, CAST(count(*) AS BIGINT) AS observed
         FROM t GROUP BY event_type, hi
       ), tot AS (
         SELECT CAST(sum(observed) AS BIGINT) AS n,
                CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                CAST(count(DISTINCT hi) AS BIGINT) AS c
         FROM cell
       ), rt AS (
         SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_tot
         FROM cell GROUP BY event_type
       ), ct AS (
         SELECT hi, CAST(sum(observed) AS BIGINT) AS col_tot
         FROM cell GROUP BY hi
       ), contrib AS (
         SELECT list(
                  (cl.observed - rt.row_tot::DOUBLE * ct.col_tot / tot.n)
                  * (cl.observed - rt.row_tot::DOUBLE * ct.col_tot / tot.n)
                  / (rt.row_tot::DOUBLE * ct.col_tot / tot.n)
                  ORDER BY cl.event_type, cl.hi) AS xs,
                min(tot.n) AS n, min(tot.r) AS r, min(tot.c) AS c
         FROM cell cl
         JOIN rt ON cl.event_type = rt.event_type
         JOIN ct ON cl.hi = ct.hi
         CROSS JOIN tot
       )
       SELECT n, r, c,
              CAST(floor(list_reduce(xs, (a, b) -> a + b) * 1000000)
                   AS BIGINT) AS chi2_e6,
              CAST(floor(sqrt(list_reduce(xs, (a, b) -> a + b)
                              / (n * least(r - 1, c - 1))) * 1000000)
                   AS BIGINT) AS cramers_v_e6
       FROM contrib""",
    "CRAMÉR'S V over the (event_type × high-value) contingency table — "
    "the normalized chi-square effect size V = sqrt(chi2/(n·min(r-1,c-1)))"
    " in [0,1], comparable across tables of any size/shape (the raw "
    "q_chi2_cells deviations are not). Cross-engine float discipline: "
    "chi2 is a SUM of per-cell doubles, and aggregate summation order is "
    "unspecified on both engines — so the |cells| contributions (domain-"
    "bounded: |event types|×2) are collected into an array SORTED by "
    "(event_type, hi) and folded LEFT-TO-RIGHT on both sides (Spark "
    "F.aggregate == DuckDB list_reduce; the q_cosine_topk fold-order "
    "argument), each contribution using only +,-,*,/,sqrt — all "
    "correctly-rounded IEEE ops — so the pre-floor doubles are "
    "bit-identical. Shape: ONE events scan compresses to |cells| rows; "
    "margins, the fold, and the final scalar all run on that compressed "
    "frame (the q_chi2_cells staging, reduced to one row).",
)
def q_cramers_v(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    cell = (
        ev.select("event_type", (cents(F.col("value")) >= 5000).alias("hi"))
        .groupBy("event_type", "hi")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    cell = cell.localCheckpoint(eager=False)  # ~10 rows; reused 4 ways
    tot = cell.agg(
        F.sum("observed").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("hi").alias("c"),
    )
    rt = cell.groupBy("event_type").agg(F.sum("observed").alias("row_tot"))
    ct = cell.groupBy("hi").agg(F.sum("observed").alias("col_tot"))
    ex = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    per = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hi")
        .crossJoin(F.broadcast(tot))
        .select(
            F.struct("event_type", "hi").alias("k"),
            ((F.col("observed") - ex) * (F.col("observed") - ex) / ex).alias(
                "x"
            ),
            "n",
            "r",
            "c",
        )
    )
    folded = per.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "x"))),
                lambda s: s["x"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("chi2"),
        F.min("n").alias("n"),
        F.min("r").alias("r"),
        F.min("c").alias("c"),
    )
    return folded.select(
        "n",
        "r",
        "c",
        F.floor(F.col("chi2") * 1000000).cast("long").alias("chi2_e6"),
        F.floor(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            )
            * 1000000
        )
        .cast("long")
        .alias("cramers_v_e6"),
    )


# =========================================================================
# IQR (Tukey) fence outlier audit — the third member of the
# outlier trio next to q_zscore_outlier (parametric) and q_mad_outlier
# (robust-scale): quartile fences are THE boxplot rule and, unlike the
# z-score, need no normality assumption
# =========================================================================


@register(
    "q_iqr_fence",
    """WITH c AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY event_type, cents
       ), w AS (
         SELECT event_type, cents, cnt,
                sum(cnt) OVER (PARTITION BY event_type
                               ORDER BY cents) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS n
         FROM c
       ), q AS (
         SELECT event_type,
                CAST(min(n) AS BIGINT) AS n,
                min(CASE WHEN 4 * cum >= n THEN cents END) AS q1_cents,
                min(CASE WHEN 4 * cum >= 3 * n THEN cents END) AS q3_cents
         FROM w GROUP BY event_type
       )
       SELECT q.event_type, q.n, q.q1_cents, q.q3_cents,
              CAST(coalesce(sum(c.cnt) FILTER (
                     WHERE 2 * c.cents > 2 * q.q3_cents
                                         + 3 * (q.q3_cents - q.q1_cents)),
                   0) AS BIGINT) AS n_above_fence,
              CAST(coalesce(sum(c.cnt) FILTER (
                     WHERE 2 * c.cents < 2 * q.q1_cents
                                         - 3 * (q.q3_cents - q.q1_cents)),
                   0) AS BIGINT) AS n_below_fence
       FROM q JOIN c ON c.event_type = q.event_type
       GROUP BY q.event_type, q.n, q.q1_cents, q.q3_cents""",
    "IQR (Tukey 1.5×) fence audit per event type: exact nearest-rank "
    "quartiles over the DISTINCT-CENTS compression (q1 = smallest value "
    "with cum ≥ n/4 — integerized as 4·cum ≥ n, no doubles, engine-"
    "portable where interpolated quantiles are not), fences kept exact by "
    "scaling ×2 (2·c > 2·q3 + 3·IQR avoids the 1.5 literal). Completes "
    "the outlier trio: z-score (parametric), MAD (robust scale), IQR "
    "(the boxplot rule — distribution-free). Shape: ONE events scan "
    "compresses to |type × distinct cents| rows; the quartile windows, "
    "the fence join (broadcast: |types| rows), and both tail counts all "
    "run over that compressed frame — the sort under the "
    "cumulative window is over the VALUE DOMAIN, not the fact table.",
)
def q_iqr_fence(spark, sf_dir):
    from pyspark.sql import Window

    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select("event_type", cents(F.col("value")).alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = c.localCheckpoint(eager=False)  # domain-bounded; feeds q and counts
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    w = c.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    q = w.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("cents"))).alias(
            "q1_cents"
        ),
        F.min(
            F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("cents"))
        ).alias("q3_cents"),
    )
    iqr3 = 3 * (F.col("q3_cents") - F.col("q1_cents"))
    return (
        c.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1_cents", "q3_cents")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        2 * F.col("cents") > 2 * F.col("q3_cents") + iqr3,
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            ).alias("n_above_fence"),
            F.coalesce(
                F.sum(
                    F.when(
                        2 * F.col("cents") < 2 * F.col("q1_cents") - iqr3,
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            ).alias("n_below_fence"),
        )
    )


# =========================================================================
# Gini coefficient — the inequality statistic over
# per-user spend (distinct from q_gini_impurity, which is class-mix
# impurity; this is the Lorenz-curve concentration measure)
# =========================================================================


@register(
    "q_gini_coefficient",
    """WITH u AS (
         SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS spend
         FROM events GROUP BY user_id
       ), r AS (
         SELECT spend,
                row_number() OVER (ORDER BY spend, user_id) AS i,
                count(*) OVER () AS n,
                sum(spend) OVER () AS tot
         FROM u
       )
       SELECT CAST(min(n) AS BIGINT) AS n_users,
              CAST(min(tot) AS BIGINT) AS total_cents,
              CAST(floor(CAST(sum((2 * i - n - 1) * spend) AS DOUBLE)
                         / (CAST(min(n) AS BIGINT) * min(tot))
                         * 1000000) AS BIGINT) AS gini_ppm
       FROM r""",
    "GINI COEFFICIENT of per-user spend concentration — the Lorenz-curve "
    "inequality statistic (how much of the corpus one tail of users "
    "accounts for; the data-mix analog flags source domination). The "
    "numerator and denominator are EXACT integers via the rank identity "
    "Σ_i Σ_j |x_i − x_j| = 2·Σ_i (2i − n − 1)·x_(i) over ascending-"
    "sorted values; gini_ppm is then ONE correctly-rounded double "
    "division of the two exact integers, floored to ppm (the "
    "q_cosine_topk single-division argument — an all-integer ·1e6 "
    "variant was probed and OVERFLOWS int64 at the 64x octave, "
    "S·1e6 > 2^63; the division inputs stay exact far past that). "
    "row_number ties break by user_id — ordering among equal spends "
    "cannot change the sum (the weight difference multiplies a zero "
    "value difference), so the statistic is deterministic, never "
    "rounding luck. Shape: one events scan → per-user agg (|users| "
    "rows) → RANGE-PARTITIONED global rank (operators/topk.py "
    "global_row_number — TeraSort two-phase: range shuffle + "
    "per-partition row_number + broadcast offsets; the only ordered "
    "single-partition window runs over P partition counts, not "
    "|users| rows) → 1-row broadcast scalar join for (n, tot) → 1 "
    "row; the rank scales with the user domain, never a single "
    "partition.",
)
def q_gini_coefficient(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.operators.topk import (
        global_row_number,
    )

    ev = _t(spark, sf_dir, "events")
    u = (
        ev.select("user_id", cents(F.col("value")).alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("spend"))
    )
    tots = u.agg(
        F.count(F.lit(1)).alias("n"), F.sum("spend").alias("tot")
    )
    r = global_row_number(u, ["spend", "user_id"], out_col="i").crossJoin(
        F.broadcast(tots)
    )
    return r.agg(
        F.min("n").cast("long").alias("n_users"),
        F.min("tot").cast("long").alias("total_cents"),
        F.expr(
            "CAST(floor(CAST(sum((2 * i - n - 1) * spend) AS DOUBLE)"
            " / (min(n) * min(tot)) * 1000000) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# =========================================================================
# Theil–Sen robust trend — median of pairwise slopes
# over the compressed hour domain
# =========================================================================


@register(
    "q_theil_sen",
    """WITH h AS (
         SELECT CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                     AS BIGINT) AS hr,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) // count(*)
                     AS BIGINT) AS c
         FROM events GROUP BY hr
       ), p AS (
         SELECT ((b.c - a.c + 20000 * (b.hr - a.hr)) * 1000000)
                    // (b.hr - a.hr) - 20000000000 AS slope_e6
         FROM h a JOIN h b ON a.hr < b.hr
       ), r AS (
         SELECT slope_e6,
                row_number() OVER (ORDER BY slope_e6) AS rn,
                count(*) OVER () AS n
         FROM p
       )
       SELECT CAST(min(n) AS BIGINT) AS n_pairs,
              CAST(max(CASE WHEN 2 * rn >= n + 1
                            AND 2 * (rn - 1) < n + 1
                            THEN slope_e6 END) AS BIGINT)
                  AS median_slope_e6_cents_per_hr,
              CAST(sum(CASE WHEN slope_e6 > 0 THEN 1 ELSE 0 END) * 1000000
                   // min(n) AS BIGINT) AS frac_up_ppm
       FROM r""",
    "THEIL–SEN robust trend of hourly mean spend: the median of all "
    "pairwise slopes over the COMPRESSED hour domain — outlier-proof "
    "where OLS (q_linreg_fit) is not, the standard robust-trend readout "
    "for drift dashboards. Exactness across engines despite negative "
    "slopes: Spark's `div` truncates toward zero while DuckDB's `//` "
    "floors, so each slope is computed with a +20000-cents/hr offset "
    "that keeps the dividend positive (|Δc| ≤ 10000 by the value "
    "domain), divided, then de-offset — floor((a+K·d)/d) = floor(a/d)+K "
    "exactly, so both engines produce the identical floored integer "
    "slope. Median = nearest-rank over the pair frame (an actual data "
    "value). Shape: one events scan compresses to ≤720 hour rows; the "
    "O(|domain|²) ≈ 259k pair join, the rank window, and the median "
    "all run on DOMAIN-sized frames — constant work at any event "
    "count (the q_acf_hourly compression argument).",
)
def q_theil_sen(spark, sf_dir):
    from pyspark.sql import Window

    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    hr = F.expr(
        "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
        " div 3600000000 AS BIGINT)"
    )
    h = (
        ev.select(hr.alias("hr"), cents(F.col("value")).alias("c"))
        .groupBy("hr")
        .agg(F.expr("sum(c) div count(1)").alias("c"))
    )
    a = h.select(F.col("hr").alias("h1"), F.col("c").alias("c1"))
    b = h.select(F.col("hr").alias("h2"), F.col("c").alias("c2"))
    p = a.join(b, F.col("h1") < F.col("h2")).select(
        (
            F.expr(
                "((c2 - c1 + 20000 * (h2 - h1)) * 1000000) div (h2 - h1)"
            )
            - F.lit(20000000000)
        ).alias("slope_e6")
    )
    w_rank = Window.orderBy("slope_e6")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = p.select(
        "slope_e6",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    return r.agg(
        F.min("n").cast("long").alias("n_pairs"),
        F.max(
            F.when(
                (2 * F.col("rn") >= F.col("n") + 1)
                & (2 * (F.col("rn") - 1) < F.col("n") + 1),
                F.col("slope_e6"),
            )
        )
        .cast("long")
        .alias("median_slope_e6_cents_per_hr"),
        F.expr(
            "(sum(CASE WHEN slope_e6 > 0 THEN 1 ELSE 0 END) * 1000000)"
            " div min(n)"
        )
        .cast("long")
        .alias("frac_up_ppm"),
    )


# =========================================================================
# Kaplan–Meier survival estimator — time-to-churn with
# right-censoring, the retention curve q_retention_cohorts approximates
# without censoring awareness
# =========================================================================


@register(
    "q_survival_km",
    """WITH u AS (
         SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
                max(ts) AS tl
         FROM events GROUP BY user_id
       ), d AS (
         -- elapsed full days (epoch-us floor), NOT date_diff('day'):
         -- date_diff counts midnight crossings, which disagrees with
         -- floor(elapsed) for arbitrary t0
         SELECT CASE WHEN tp IS NOT NULL
                      AND (epoch_us(tp) - epoch_us(t0)) // 86400000000 <= 7
                     THEN (epoch_us(tp) - epoch_us(t0)) // 86400000000
                     ELSE least(7, (epoch_us(tl) - epoch_us(t0))
                                   // 86400000000) END AS t,
                CASE WHEN tp IS NOT NULL
                      AND (epoch_us(tp) - epoch_us(t0)) // 86400000000 <= 7
                     THEN 1 ELSE 0 END AS ev
         FROM u
       ), agg AS (
         SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                CAST(count(*) AS BIGINT) AS cnt
         FROM d GROUP BY t
       ), w AS (
         SELECT t, d,
                CAST(sum(cnt) OVER (ORDER BY t DESC) AS BIGINT) AS n
         FROM agg
       ), l AS (
         SELECT list(struct_pack(t := t, d := d, n := n) ORDER BY t) AS xs
         FROM w WHERE d > 0
       ), e AS (
         SELECT unnest(generate_series(1, len(xs))) AS i, xs FROM l
       )
       SELECT CAST(xs[i].t AS BIGINT) AS t_days,
              CAST(xs[i].n AS BIGINT) AS n_risk,
              CAST(xs[i].d AS BIGINT) AS d_converted,
              CAST(floor(list_reduce(
                     list_transform(xs[1:i],
                                    x -> 1.0 - x.d::DOUBLE / x.n),
                     (a, b) -> a * b) * 1000000) AS BIGINT) AS surv_e6
       FROM e""",
    "KAPLAN–MEIER estimator of time-to-first-purchase under a 7-day "
    "observation window with RIGHT-CENSORING: a user who has not "
    "converted within 7 days of their first event (or whose activity "
    "ends first) is censored at the window edge, not counted as a "
    "never-converter — the distinction naive conversion curves (and "
    "q_time_to_convert's converters-only latency) ignore and the reason "
    "KM is the standard. S(t) = Π_{t'≤t} (1 − d_t'/n_t') over event "
    "times; at-risk counts come from a DESC cumulative sum so same-day "
    "censorings stay at risk (deaths-before-censoring, the KM "
    "convention). Cross-engine float discipline: the survival product "
    "folds LEFT-TO-RIGHT over the (t ASC)-sorted event-time array on "
    "both engines (Spark aggregate over slice == DuckDB list_reduce "
    "over list slice; 1.0·x and each (1 − d/n) term are correctly-"
    "rounded IEEE on identical integer inputs) — the q_cramers_v "
    "ordered-fold argument; d and n are exact BIGINTs, and day "
    "durations are epoch-us floors (date_diff('day') counts midnight "
    "crossings and would disagree). Shape: one events scan → per-user "
    "min/max/conditional-min agg → ≤8-row event-time domain: the DESC "
    "cumsum window, the sorted collect, and the O(k²) slice-folds all "
    "run on the bounded domain at any corpus size.",
)
def q_survival_km(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
        F.max("ts").alias("tl"),
    )
    dp = F.expr(
        "(unix_micros(tp) - unix_micros(t0)) div 86400000000"
    )
    life = F.expr(
        "(unix_micros(tl) - unix_micros(t0)) div 86400000000"
    )
    converted = F.col("tp").isNotNull() & (dp <= 7)
    d = u.select(
        F.when(converted, dp).otherwise(F.least(F.lit(7), life)).alias("t"),
        F.when(converted, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    agg = d.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("cnt")
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = agg.select("t", "d", F.sum("cnt").over(w_desc).alias("n")).filter(
        F.col("d") > 0
    )
    l = w.agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "n"))).alias("xs")
    )
    e = l.select(F.posexplode("xs").alias("p", "x"), "xs")
    surv = F.aggregate(
        F.expr("slice(xs, 1, CAST(p + 1 AS INT))"),
        F.lit(1.0),
        lambda acc, s: acc * (1.0 - s["d"].cast("double") / s["n"]),
    )
    return e.select(
        F.col("x.t").cast("long").alias("t_days"),
        F.col("x.n").cast("long").alias("n_risk"),
        F.col("x.d").cast("long").alias("d_converted"),
        F.floor(surv * 1000000).cast("long").alias("surv_e6"),
    )


# =========================================================================
# Market-basket lift — pairwise co-occurrence
# association between event types across users
# =========================================================================


@register(
    "q_basket_lift",
    """WITH ut AS (
         SELECT DISTINCT user_id, event_type FROM events
       ), n AS (
         SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM ut
       ), tc AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut
         GROUP BY event_type
       ), pairs AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                CAST(count(*) AS BIGINT) AS n_both
         FROM ut a JOIN ut b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY type_a, type_b
       )
       SELECT p.type_a, p.type_b,
              ta.n_t AS n_a, tb.n_t AS n_b, p.n_both,
              (p.n_both * 1000000) // n.nu AS support_ppm,
              CAST(floor(p.n_both::DOUBLE * n.nu * 1000000
                         / (ta.n_t::DOUBLE * tb.n_t)) AS BIGINT)
                  AS lift_e6
       FROM pairs p
       JOIN tc ta ON ta.event_type = p.type_a
       JOIN tc tb ON tb.event_type = p.type_b
       CROSS JOIN n""",
    "MARKET-BASKET LIFT between event types: for every type pair, "
    "lift = P(A and B) / (P(A) P(B)) over the user population plus raw "
    "support — the association-rule readout (recommendation mining, "
    "feature co-occurrence screening) that complements q_pmi_bigrams' "
    "token-level association with user-level behavior. Scale shape: "
    "the self-join runs on the (user, type) DISTINCT frame keyed on "
    "user_id — each user contributes at most |types| rows, so the "
    "join output is bounded by |users| x C(|types|,2), never user^2; "
    "type totals and the population count are a broadcast-tiny "
    "|types|-row frame and a 1-row frame. Counts are exact integers; "
    "lift is one identical double tree floored to e6 (the e6-scaled "
    "integer cross-product overflows int64 exactly at the corpus sizes "
    "this targets, the q_gini lesson). Shape: one events scan -> "
    "distinct -> keyed self-join -> |types|^2-bounded aggregate.",
)
def q_basket_lift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    # Three consumers (pair join both sides + type totals + population):
    # materialize the |users|x|types| distinct frame once.
    ut = ut.localCheckpoint()
    n = ut.agg(F.count_distinct("user_id").alias("nu"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tc.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    tb = tc.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    out = (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        F.expr("(n_both * 1000000) div nu").alias("support_ppm"),
        F.floor(
            F.col("n_both").cast("double")
            * F.col("nu")
            * 1000000
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        .cast("long")
        .alias("lift_e6"),
    )


# =========================================================================
# Differentially-private-style histogram release — the
# deterministic-noise attestation twin of the privacy family
# (q_kanon_suppress generalizes, q_ldiversity/q_tcloseness audit,
# this releases counts under bounded noise)
# =========================================================================


@register(
    "q_dp_histogram",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(CAST(concat('0x', substr(md5(event_type), 1, 8))
                        AS BIGINT) % 2001 - 1000 AS BIGINT) AS noise,
              CAST(count(*)
                   + CAST(concat('0x', substr(md5(event_type), 1, 8))
                          AS BIGINT) % 2001 - 1000 AS BIGINT) AS noisy_n
       FROM events GROUP BY event_type""",
    "NOISY HISTOGRAM RELEASE — the private-aggregate-release shape: "
    "per-category counts plus bounded additive noise, the mechanism "
    "every DP histogram deploys (count + noise, post-processed "
    "downstream). This key is the DETERMINISTIC ATTESTATION TWIN per "
    "the SURVEY §4.3.2 seeded-rand discipline: the noise term is a "
    "two-sided bounded offset derived from md5(category) (first 8 hex "
    "digits mod 2001, centered), bit-identical across engines — "
    "Spark's conv(hex,16,10) and DuckDB's '0x'-cast parse the same "
    "unsigned 32-bit value — so the release is oracle-checkable. A "
    "production deployment swaps the hash for a calibrated Laplace/"
    "discrete-Gaussian draw and tracks the epsilon budget; the "
    "engine-side plumbing (group, perturb, release; true counts never "
    "leave the aggregate) is exactly this plan. Shape: one map-side-"
    "combined hash agg over the BOUNDED category domain + scalar "
    "hash arithmetic per output row; the cheapest release at any "
    "scale.",
)
def q_dp_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    noise = (
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 8), 16, 10).cast(
            "long"
        )
        % 2001
        - 1000
    )
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "n",
            noise.cast("long").alias("noise"),
            (F.col("n") + noise).cast("long").alias("noisy_n"),
        )
    )


# =========================================================================
# Holt linear-trend smoothing — the recursive member of the
# time-series family (q_ewma_crossover is the weighted-FIR twin whose
# taps truncate; Holt's level+trend state is genuinely recursive, so
# this key pins the exact integer fold)
# =========================================================================


@register(
    "q_holt_linear",
    """WITH RECURSIVE h AS (
         SELECT CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                     AS BIGINT) AS hr,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY hr
       ), idx AS (
         SELECT row_number() OVER (ORDER BY hr) AS i, c FROM h
       ), f(i, l, b, sae) AS (
         SELECT 1, c * 1000000, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         FROM idx WHERE i = 1
         UNION ALL
         SELECT f.i + 1,
                (idx.c * 1000000 + f.l + f.b + 2000000000000) // 2
                  - 1000000000000,
                (((idx.c * 1000000 + f.l + f.b + 2000000000000) // 2
                    - 1000000000000) - f.l + f.b + 2000000000000) // 2
                  - 1000000000000,
                f.sae + abs(idx.c * 1000000 - (f.l + f.b))
         FROM f JOIN idx ON idx.i = f.i + 1
       )
       SELECT CAST(i AS BIGINT) AS n_hours,
              CAST(l AS BIGINT) AS level_e6,
              CAST(b AS BIGINT) AS trend_e6,
              CAST(l + b AS BIGINT) AS forecast_e6,
              CAST(sae AS BIGINT) AS sae_e6
       FROM f WHERE i = (SELECT max(i) FROM idx)""",
    "HOLT LINEAR-TREND exponential smoothing (alpha = beta = 1/2) over "
    "the hourly event-count series: level l_t = (y_t + l + b)/2, trend "
    "b_t = ((l_t - l) + b)/2, plus the cumulative absolute one-step "
    "forecast error — the classic short-horizon forecaster and "
    "data-drift readout. The recurrence is EXACT INTEGER fixed-point: "
    "counts scale to e6, each halving is floor division with a +2e12 "
    "offset so the numerator stays positive (floor == truncate == "
    "arithmetic shift, identical in every engine; an unguarded div "
    "would diverge between DuckDB's floor // and Spark's "
    "truncate-toward-zero div the first time the trend goes negative), "
    "so the 720-step trajectory is bit-identical across engines. "
    "Shape: one map-side-combined hash agg to the BOUNDED hour domain "
    "(720 rows here; days x 24 at any scale), one array_sort + "
    "aggregate() fold over that bounded array inside ONE reduced row — "
    "the same compressed-domain pattern as q_acf_hourly/q_cusum_drift; "
    "the unbounded event scan never meets the recursion. The oracle "
    "runs the identical recurrence as a recursive CTE.",
)
def q_holt_linear(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hr = F.expr(
        "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
        " div 3600000000 AS BIGINT)"
    )
    h = ev.groupBy(hr.alias("hr")).agg(F.count(F.lit(1)).alias("c"))
    g = h.agg(
        F.array_sort(F.collect_list(F.struct("hr", "c"))).alias("a")
    )
    L6 = F.lit(1000000).cast("long")
    OFF = F.lit(1000000000000).cast("long")

    def step(acc, x):
        y = x["c"] * L6
        lp = F.shiftright(y + acc["l"] + acc["b"] + 2 * OFF, 1) - OFF
        bp = F.shiftright(lp - acc["l"] + acc["b"] + 2 * OFF, 1) - OFF
        sae = acc["sae"] + F.abs(y - (acc["l"] + acc["b"]))
        return F.struct(
            lp.alias("l"), bp.alias("b"), sae.alias("sae")
        )

    init = F.struct(
        (F.element_at(F.col("a"), 1)["c"] * L6).alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.lit(0).cast("long").alias("sae"),
    )
    folded = g.select(
        F.size("a").cast("long").alias("n_hours"),
        F.aggregate(
            F.slice(F.col("a"), 2, F.size("a") - 1), init, step
        ).alias("st"),
    )
    return folded.select(
        "n_hours",
        F.col("st.l").cast("long").alias("level_e6"),
        F.col("st.b").cast("long").alias("trend_e6"),
        (F.col("st.l") + F.col("st.b")).cast("long").alias("forecast_e6"),
        F.col("st.sae").cast("long").alias("sae_e6"),
    )


# =========================================================================
# Two-stage retrieval — BM25 recall then embedding rerank,
# the RAG retrieval pipeline end-to-end (stage 1 = q_bm25_topk's exact
# integer scoring turned query-side, stage 2 = q_cosine_topk's exact
# rerank over the shortlist)
# =========================================================================


@register(
    "q_two_stage_retrieval",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         FROM documents
       ), tf_t AS (
         SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY doc_id, term
       ), dl_t AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
       ), df_t AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_t GROUP BY term
       ), corpus AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl
         FROM dl_t
       ), qt AS (
         SELECT term FROM tf_t WHERE doc_id = 450
         ORDER BY tf DESC, term LIMIT 3
       ), scored AS (
         SELECT t.doc_id,
                CAST(sum(((t.tf * 2200000000000)
                          // (t.tf * 1000000
                              + (120 * (250000
                                        + (75 * ((l.dl * 1000000)
                                                 // c.avgdl)) // 100))
                                // 100))
                         * (2 * (c.n_docs - d.df) + 1) // (2 * d.df + 1))
                     AS BIGINT) AS bm25_ppm
         FROM tf_t t
         JOIN qt USING (term)
         JOIN df_t d ON t.term = d.term
         JOIN dl_t l ON t.doc_id = l.doc_id
         CROSS JOIN corpus c
         GROUP BY t.doc_id
       ), top20 AS (
         SELECT doc_id, bm25_ppm FROM scored
         ORDER BY bm25_ppm DESC, doc_id LIMIT 20
       ), qv AS (
         SELECT embedding AS qe FROM embeddings WHERE vec_id = 450
       )
       SELECT t.doc_id, t.bm25_ppm,
              floor((list_reduce(list_transform(range(len(a.embedding)),
                       i -> a.embedding[i+1]::DOUBLE * qv.qe[i+1]::DOUBLE),
                       (x,y) -> x+y)
                     / (sqrt(list_reduce(list_transform(a.embedding,
                          x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y))
                        * sqrt(list_reduce(list_transform(qv.qe,
                            x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y))))
                    * 1000000) / 1000000.0 AS cosine_sim
       FROM top20 t
       JOIN embeddings a ON a.vec_id = t.doc_id
       CROSS JOIN qv
       ORDER BY cosine_sim DESC, t.doc_id LIMIT 5""",
    "TWO-STAGE RETRIEVAL — the RAG pipeline end-to-end: stage 1 scores "
    "the corpus with EXACT-INTEGER BM25 (q_bm25_topk's overflow-audited "
    "ppm formula, k1=1.2 b=0.75) against a 3-term query — doc 450's "
    "top-tf terms, the deterministic 'more like this' query, collected "
    "driver-side as THE QUERY exactly like q_cosine_topk's vector — "
    "and keeps a top-20 shortlist (TakeOrderedAndProject); stage 2 "
    "joins ONLY the shortlist to its embeddings (20-row broadcast) and "
    "reranks by exact cosine vs the query document's vector, emitting "
    "the final top-5. This inverted-index-then-ANN cascade is how "
    "production retrieval spends its compute: the cheap lexical stage "
    "bounds the candidate set, the expensive semantic stage touches "
    "20 rows, not N. Shuffles: the tf/df/dl aggs and vocab join from "
    "the BM25 plan (query terms prune tf BEFORE the df join), then "
    "broadcast-only joins; the embeddings scan is pruned to the "
    "shortlist via the broadcast hash join.",
)
def q_two_stage_retrieval(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.vectors import (
        as_double,
        cosine_rounded,
        vec_lit,
    )

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    # EAGER tf checkpoint: the q_terms collect right below is a separate
    # action — without the checkpoint it materializes the scan+explode+tf
    # pipeline once for the query terms and the final plan then re-derives
    # the same pipeline for every consumer (tf filter, df, dl, corpus).
    # Checkpointed, the collect pays it once and everything else reads the
    # materialized RDD; dl = sum(tf) per doc (exact) avoids re-reading tok.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(dl) DIV count(1)").alias("avgdl"),
    )
    # The query: doc 450's top-3 terms by tf (driver-side bounded collect —
    # 'the query', not data movement; ties broken by term).
    q_terms = [
        r.term
        for r in tf.filter(F.col("doc_id") == 450)
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(3)
        .collect()
    ]
    scored = (
        tf.filter(F.col("term").isin(q_terms))
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    """((tf * 2200000000000L)
                        DIV (tf * 1000000L
                             + (120 * (250000
                                       + (75 * ((dl * 1000000L) DIV avgdl))
                                         DIV 100))
                               DIV 100))
                       * (2 * (n_docs - df) + 1) DIV (2 * df + 1)"""
                )
            ).cast("long").alias("bm25_ppm")
        )
    )
    top20 = scored.orderBy(F.desc("bm25_ppm"), F.asc("doc_id")).limit(20)
    emb = _t(spark, sf_dir, "embeddings")
    q_row = emb.filter(F.col("vec_id") == 450).select("embedding").first()
    qv = vec_lit([float(x) for x in q_row[0]])
    rer = F.broadcast(top20).join(
        emb, top20["doc_id"] == emb["vec_id"]
    ).select(
        top20["doc_id"],
        "bm25_ppm",
        cosine_rounded(as_double(F.col("embedding")), qv).alias("cosine_sim"),
    )
    return rer.orderBy(F.desc("cosine_sim"), F.asc("doc_id")).limit(5)


# =========================================================================
# Per-user OLS trend — grouped model fitting (thousands of
# regressions in one aggregate pass; q_linreg_fit is the single global
# model, q_cv_ols the LOFO variant — this is the per-entity fleet)
# =========================================================================


@register(
    "q_per_user_trend",
    """WITH p AS (
         SELECT user_id,
                CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                     AS BIGINT) AS x,
                CAST(round(value * 100) AS BIGINT) AS y
         FROM events
       ), m AS (
         SELECT user_id,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
         FROM p GROUP BY user_id
       )
       SELECT user_id, n,
              CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
              CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
              CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                        WHEN n * sxy - sx * sy < 0 THEN -1
                        ELSE 0 END AS BIGINT) AS trend_dir
       FROM m""",
    "PER-USER OLS TREND — one regression per user (spend-cents vs hour "
    "index), the grouped-model-fleet pattern: fit "
    "millions of per-entity models in ONE map-side-combined aggregate "
    "pass, never a per-entity loop. The slope is emitted as the EXACT "
    "RATIONAL pair (slope_num, slope_den) = (n*Sxy - Sx*Sy, "
    "n*Sxx - Sx**2) plus its sign — the q_bm25_topk odds dodge: a "
    "floored quotient would need the div-vs-// negative-operand "
    "reconciliation (Spark truncates, DuckDB floors) and an overflow-"
    "prone e-scale, while the rational is overflow-audited directly "
    "(n<=1e4 events/user, x<=1e5 hours, y<=1e8 cents keeps every "
    "product under 2^62) and loses nothing — downstream consumers "
    "compare slopes by cross-multiplication. Degenerate users (one "
    "distinct hour) read slope_den = 0 rather than a NULL-division "
    "special case. Shape: one events scan -> five integer moments in "
    "one hash agg on user_id -> pure projection; |users| rows out, "
    "no window, no join.",
)
def q_per_user_trend(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    ev = _t(spark, sf_dir, "events")
    x = F.expr(
        "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
        " div 3600000000 AS BIGINT)"
    )
    p = ev.select("user_id", x.alias("x"), cents(F.col("value")).alias("y"))
    m = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "user_id",
        "n",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(num > 0, 1)
        .when(num < 0, -1)
        .otherwise(0)
        .cast("long")
        .alias("trend_dir"),
    )
