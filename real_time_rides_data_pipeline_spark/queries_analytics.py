"""Relational-integrity / graph / time-series / subword-text operators and
warehouse/product-analytics staples.

Same registry contract as queries.py / queries_ops.py (SURVEY.md §2.9
scope). Determinism rules (SURVEY §7.4) throughout: exact integer cents /
counts / scaled ranks, floor (`div`) division only, every ORDER BY tied off
by a total order, no compared float/decimal columns.

What this module adds:

- ``q_fk_orphans`` — the referential-integrity audit: orphan counts + ppm
  for three FK edges checked against a deliberately pruned parent snapshot
  (the stale-dimension / late-arriving-dim production failure mode).
- ``q_interval_overlap_join`` — interval x interval OVERLAP join via
  absolute-time bucketing with canonical-cell dedup
  (``operators.joins.bucketed_interval_overlap_join``) — the join shape
  behind incident/session attribution; complements the existing
  point-in-interval ``q_range_join``.
- ``q_decayed_sum`` — exponentially-decayed windowed counter (the
  time-decayed engagement/abuse score): a 16-tap dyadic decay computed as
  exact BIGINT via shifts — the streaming-counter primitive, reproducible
  bit-for-bit on any engine because no float ever appears.
- ``q_pagerank`` — 3-iteration PageRank over the symmetrized
  part<->supplier co-purchase graph in EXACT integer arithmetic
  (``operators.graph.pagerank_int``): float PageRank is not cross-engine
  reproducible (neighbor-sum order), integer floor-div PageRank is.
- ``q_bpe_pairs`` — the inner loop of BPE vocabulary training: adjacent
  CHARACTER-pair frequencies within words, top-50. Distinct from the
  word-level ``q_pmi_bigrams``.
- ``q_null_impute`` — per-group mean imputation of a derived-missing
  measure (error events carry no trusted value) with a global-mean
  fallback, all in exact integer cents.
- ``q_scd2_intervals`` — SCD type-2 validity intervals from an event log
  (gaps-and-islands: change-marker + cumulative-sum window, per-run agg,
  lead() stitching over the runs table).
- ``q_funnel_paths`` — top-20 first-five-event user paths (rank window
  capped at 5, deterministic sort_array assembly, alphabet-bounded path
  domain, TakeOrderedAndProject).
- ``q_retention_cohorts`` — weekly cohort retention matrix with exact
  ppm retention vs week-0 (distinct (user, week) compression, broadcast
  week-0 join).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.operators.graph import pagerank_int
from real_time_rides_data_pipeline_spark.operators.joins import (
    bucketed_interval_overlap_join,
)
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import scratch_dir as _scratch_dir
from real_time_rides_data_pipeline_spark.session import scoped_writer_session
from real_time_rides_data_pipeline_spark.streaming.replay import (
    run_to_completion,
    stage_batches,
)
from real_time_rides_data_pipeline_spark.streaming.stateful import _DECAY_TAPS

# =========================================================================
# Referential-integrity audit
# =========================================================================


@register(
    "q_fk_orphans",
    """WITH snap_cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
            snap_part AS (SELECT p_partkey FROM part WHERE p_partkey % 97 <> 0),
            snap_supp AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 <> 0),
            a1 AS (SELECT 'orders->customer' AS relationship,
                          CAST(count(*) AS BIGINT) AS child_rows,
                          CAST(count(*) FILTER (WHERE o_custkey NOT IN
                               (SELECT c_custkey FROM snap_cust)) AS BIGINT)
                            AS orphan_rows
                   FROM orders),
            a2 AS (SELECT 'lineitem->part', count(*),
                          count(*) FILTER (WHERE l_partkey NOT IN
                               (SELECT p_partkey FROM snap_part))
                   FROM lineitem),
            a3 AS (SELECT 'lineitem->supplier', count(*),
                          count(*) FILTER (WHERE l_suppkey NOT IN
                               (SELECT s_suppkey FROM snap_supp))
                   FROM lineitem)
       SELECT relationship, child_rows, orphan_rows,
              CAST(orphan_rows * 1000000 // nullif(child_rows, 0) AS BIGINT)
                  AS orphan_ppm
       FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL
             SELECT * FROM a3)
       ORDER BY relationship""",
    "Referential-integrity audit: for each FK edge, total child rows, "
    "orphan child rows, and orphan ppm — checked against a parent snapshot "
    "missing every 97th key (the stale-dimension simulation; on the raw "
    "TPC-H-consistent fixtures every audit would be trivially zero). "
    "Scale: each audit first collapses the child to DISTINCT keys with "
    "counts (one map-side-combined shuffle carrying one row per distinct "
    "key, not per child row), then left-joins the parent keyset and folds "
    "to a single row — the anti-join never sees raw fact rows. The three "
    "audits are independent branches unioned at one row each.",
)
def q_fk_orphans(spark, sf_dir):
    def audit(child, key, parent, pkey, rel):
        per_key = child.groupBy(F.col(key).alias("__k")).agg(
            F.count(F.lit(1)).alias("__n")
        )
        snap = (
            parent.filter(F.col(pkey) % 97 != 0)
            .select(F.col(pkey).alias("__k"))
            .withColumn("__hit", F.lit(1))
        )
        return per_key.join(snap, "__k", "left").agg(
            F.lit(rel).alias("relationship"),
            F.sum("__n").cast("long").alias("child_rows"),
            F.sum(F.when(F.col("__hit").isNull(), F.col("__n")).otherwise(0))
            .cast("long")
            .alias("orphan_rows"),
        )
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    audits = audit(
        orders, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey",
        "orders->customer",
    ).unionAll(
        audit(lineitem, "l_partkey", _t(spark, sf_dir, "part"), "p_partkey",
              "lineitem->part")
    ).unionAll(
        audit(lineitem, "l_suppkey", _t(spark, sf_dir, "supplier"),
              "s_suppkey", "lineitem->supplier")
    )
    return audits.select(
        "relationship",
        "child_rows",
        "orphan_rows",
        F.expr("orphan_rows * 1000000 div nullif(child_rows, 0)").alias(
            "orphan_ppm"
        ),
    ).orderBy("relationship")


# =========================================================================
# Interval-overlap join
# =========================================================================


@register(
    "q_interval_overlap_join",
    """WITH win AS (
         SELECT k AS window_id,
                TIMESTAMP '2024-01-01' + INTERVAL (k*72) HOUR AS w_start,
                TIMESTAMP '2024-01-01' + INTERVAL (k*72+36) HOUR AS w_end
         FROM generate_series(0, 9) AS t(k)),
       ev AS (SELECT event_id, event_type, ts AS e_start,
                     ts + INTERVAL (CAST(greatest(floor(value), 1) AS INT))
                            MINUTE AS e_end
              FROM events)
       SELECT w.window_id,
              CAST(count(*) AS BIGINT) AS n_overlap,
              CAST(count(DISTINCT ev.event_type) AS BIGINT) AS n_types
       FROM win w JOIN ev
         ON ev.e_start < w.w_end AND w.w_start < ev.e_end
       GROUP BY window_id ORDER BY window_id""",
    "Interval x interval OVERLAP join: events (interval = [ts, ts + "
    "max(floor(value),1) minutes) — the 1-minute floor keeps zero-duration "
    "events from becoming empty half-open intervals, which overlap "
    "nothing) against ten 36-hour maintenance windows every "
    "72 hours. The oracle is the naive theta-join; the Spark plan is "
    "operators.joins.bucketed_interval_overlap_join — both sides explode "
    "to covered 36h absolute-time cells, overlap becomes an EQUI-join on "
    "the cell id + residual filter, and each pair is kept only at its "
    "canonical cell max(first_cell_l, first_cell_r) so no post-distinct "
    "shuffle is needed. Scale: the windows here are 10 rows (broadcast), "
    "but the plan is the one that survives a million-interval right side — "
    "hash equi-join, explode factor ~2, no nested loop.",
)
def q_interval_overlap_join(spark, sf_dir):
    win = spark.range(10).select(
        F.col("id").alias("window_id"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(hours=F.col("id") * 72)
        ).alias("w_start"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(hours=F.col("id") * 72 + 36)
        ).alias("w_end"),
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").alias("e_start"),
        (
            F.col("ts")
            + F.make_interval(
                mins=F.greatest(F.floor("value"), F.lit(1)).cast("int")
            )
        ).alias("e_end"),
    )
    joined = bucketed_interval_overlap_join(
        win, ev, "w_start", "w_end", "e_start", "e_end",
        bucket_seconds=36 * 3600,
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("window_id")
    )


# =========================================================================
# Exponentially-decayed windowed counter
# =========================================================================


@register(
    "q_decayed_sum",
    """WITH t AS (SELECT event_id, user_id, ts,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase')
       SELECT event_id, user_id,
              CAST("""
    + " + ".join(
        f"coalesce(lag(cents, {j}) OVER w, 0) * {1 << (_DECAY_TAPS - 1 - j)}"
        for j in range(_DECAY_TAPS)
    )
    + """ AS BIGINT) AS decayed
       FROM t
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ORDER BY event_id""",
    "Exponentially-decayed windowed counter (time-decayed spend score): "
    "for each purchase, sum of the user's last 16 purchase amounts with "
    "dyadic weights 2^15 (current) down to 2^0 — EXACT BIGINT via shifts, "
    "no float decay factor, so the score is bit-reproducible on any "
    "engine and any partitioning (SURVEY §7.4). Scale: the 16 lag taps "
    "share ONE window spec → a single hash shuffle on user_id + one sort "
    "per partition; the purchase filter is pushed to the parquet scan "
    "before the shuffle.",
)
def q_decayed_sum(spark, sf_dir):
    t = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", cents(F.col("value")).alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    taps = [
        F.coalesce(F.lag("c", j).over(w), F.lit(0))
        * F.lit(1 << (_DECAY_TAPS - 1 - j))
        for j in range(_DECAY_TAPS)
    ]
    decayed = taps[0]
    for tap in taps[1:]:
        decayed = decayed + tap
    return (
        t.select(
            "event_id", "user_id", decayed.cast("long").alias("decayed")
        ).orderBy("event_id")
    )


# =========================================================================
# Integer PageRank
# =========================================================================


@register(
    "q_pagerank",
    """WITH e0 AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
                   FROM lineitem),
       edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
       s1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS c FROM edges e
              JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
       r1 AS (SELECT n.node,
                     CAST(150000000000 + 85 * coalesce(s1.c, 0) // 100
                          AS BIGINT) AS r
              FROM nodes n LEFT JOIN s1 ON s1.node = n.node),
       s2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS c FROM edges e
              JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
       r2 AS (SELECT n.node,
                     CAST(150000000000 + 85 * coalesce(s2.c, 0) // 100
                          AS BIGINT) AS r
              FROM nodes n LEFT JOIN s2 ON s2.node = n.node),
       s3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS c FROM edges e
              JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
       r3 AS (SELECT n.node,
                     CAST(150000000000 + 85 * coalesce(s3.c, 0) // 100
                          AS BIGINT) AS r
              FROM nodes n LEFT JOIN s3 ON s3.node = n.node)
       SELECT node, r AS rank_scaled FROM r3
       ORDER BY rank_scaled DESC, node LIMIT 20""",
    "3-iteration PageRank (damping 0.85, rank scale 1e12) over the "
    "symmetrized part<->supplier co-purchase graph from lineitem, top-20 "
    "nodes (parts encoded 2k, suppliers 2k+1). EXACT integer arithmetic "
    "throughout (operators.graph.pagerank_int): per-edge contribution is "
    "rank div out_degree, update is 15% teleport + 85% div 100 — floor "
    "division on int64, so the fixpoint trajectory is bit-identical in "
    "any engine; float PageRank is NOT cross-engine comparable because "
    "the neighbor sum is order-dependent. Scale: each iteration is one "
    "edge-list hash join + map-side-combined sum per dst; the edge+degree "
    "table is lazily localCheckpoint'd so its scan/distinct runs once, "
    "not once per iteration. Top-20 is TakeOrdered, no global sort.",
)
def q_pagerank(spark, sf_dir):
    e0 = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank_int(edges)
    return (
        ranks.select("node", F.col("r").alias("rank_scaled"))
        .orderBy(F.desc("rank_scaled"), "node")
        .limit(20)
    )


# =========================================================================
# BPE pair counting
# =========================================================================


@register(
    "q_bpe_pairs",
    """WITH words AS (
         SELECT regexp_replace(
                  unnest(string_split_regex(trim(lower(text)), '\\s+')),
                  '[^a-z0-9]', '', 'g') AS w
         FROM documents),
       pairs AS (
         SELECT unnest(list_transform(range(1, length(w)),
                                      i -> substr(w, i, 2))) AS pair
         FROM words WHERE length(w) >= 2)
       SELECT pair, CAST(count(*) AS BIGINT) AS n
       FROM pairs GROUP BY pair
       ORDER BY n DESC, pair LIMIT 50""",
    "The inner loop of BPE vocabulary training: frequency of every "
    "adjacent CHARACTER pair within normalized words (lowercased, "
    "non-alphanumerics stripped), top-50 by count with a total tie-break. "
    "Distinct from q_pmi_bigrams (word-level co-occurrence). Scale: "
    "tokenize + pair expansion are pure JVM transform/explode inside one "
    "codegen stage over the scan — the only shuffle is the "
    "map-side-combined count over a key space bounded by 37^2 pairs, and "
    "top-50 is TakeOrdered (no global sort). This is exactly the "
    "count-pairs step a distributed BPE trainer runs per merge round.",
)
def q_bpe_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents", parallel=True)
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w0")
    ).select(F.regexp_replace(F.col("w0"), "[^a-z0-9]", "").alias("w"))
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1),"
                       " i -> substring(w, i, 2))")
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


# =========================================================================
# Group-mean imputation
# =========================================================================


@register(
    "q_null_impute",
    """WITH t AS (SELECT user_id, event_type = 'error' AS miss,
                         CAST(round(value*100) AS BIGINT) AS cents
                  FROM events),
       pu AS (SELECT user_id,
                     CAST(count(*) FILTER (WHERE miss) AS BIGINT) AS n_missing,
                     CAST(count(*) FILTER (WHERE NOT miss) AS BIGINT)
                       AS n_present,
                     CAST(coalesce(sum(cents) FILTER (WHERE NOT miss), 0)
                          AS BIGINT) AS present_sum
              FROM t GROUP BY user_id),
       g AS (SELECT CAST(sum(present_sum) // sum(n_present) AS BIGINT)
                      AS gmean FROM pu)
       SELECT user_id, n_missing,
              CAST(CASE WHEN n_present > 0 THEN present_sum // n_present
                        ELSE g.gmean END AS BIGINT) AS imputed_cents,
              CAST(present_sum + n_missing *
                   (CASE WHEN n_present > 0 THEN present_sum // n_present
                         ELSE g.gmean END) AS BIGINT) AS total_cents
       FROM pu, g
       ORDER BY user_id""",
    "Per-group mean imputation, the feature-prep primitive: error events "
    "carry no trusted value (derived missingness — the fixtures have no "
    "physical NULLs), each user's missing values are imputed with the "
    "user's floor-mean of present cents, falling back to the global "
    "floor-mean for users with no present rows. All arithmetic exact "
    "integer (floor div on cents). Scale: one map-side-combined groupBy "
    "user carrying three partial aggregates; the global fallback is a "
    "1-row re-aggregate of the per-user table broadcast back as a scalar "
    "cross join — never a second scan of the fact table.",
)
def q_null_impute(spark, sf_dir):
    t = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_type") == "error").alias("miss"),
        cents(F.col("value")).alias("cents"),
    )
    # Lazy localCheckpoint: the per-user table is consumed by TWO branches
    # (the global-mean re-aggregate and the final projection); without it
    # each branch would re-run the fact scan + aggregate — a full extra
    # pass over events at scale. Checkpointing the small per-user table
    # materializes it once and both branches read the cached RDD.
    pu = t.groupBy("user_id").agg(
        F.sum(F.when(F.col("miss"), 1).otherwise(0)).cast("long").alias("n_missing"),
        F.sum(F.when(~F.col("miss"), 1).otherwise(0)).cast("long").alias("n_present"),
        F.coalesce(F.sum(F.when(~F.col("miss"), F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("present_sum"),
    ).localCheckpoint(eager=False)
    g = pu.agg(
        F.expr("sum(present_sum) div sum(n_present)").alias("gmean")
    )
    imput = F.when(
        F.col("n_present") > 0, F.expr("present_sum div n_present")
    ).otherwise(F.col("gmean"))
    return (
        pu.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "n_missing",
            imput.cast("long").alias("imputed_cents"),
            (F.col("present_sum") + F.col("n_missing") * imput)
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("user_id")
    )


# =========================================================================
# Streaming twin of the decayed counter (order-sensitive state)
# =========================================================================


@register(
    "q_stream_decayed",
    """WITH t AS (SELECT event_id, user_id, ts,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase')
       SELECT event_id, user_id,
              CAST("""
    + " + ".join(
        f"coalesce(lag(cents, {j}) OVER w, 0) * {1 << (_DECAY_TAPS - 1 - j)}"
        for j in range(_DECAY_TAPS)
    )
    + """ AS BIGINT) AS decayed
       FROM t
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ORDER BY event_id""",
    "STREAMING twin of q_decayed_sum, checked against the SAME batch "
    "oracle (stream≡batch, SURVEY §5.2.2) — and unlike the other stateful "
    "keys this operator is ORDER-SENSITIVE: an event's score depends on "
    "its 15 event-time predecessors, but the 2 replay micro-batches split "
    "round-robin, so predecessors arrive late on purpose. The "
    "applyInPandasWithState fold (streaming.stateful.running_decayed_"
    "scores) merges arrivals into per-user (ts,event_id)-sorted history "
    "and re-emits CORRECTED scores for every event whose 16-tap window an "
    "insertion changed (at most |batch|+15 corrections); the latest-wins "
    "MERGE on event_id converges to the batch answer under any split. "
    "Scale: state is the watermark-bounded suffix of each user's history "
    "(settled events are prunable after keeping 15 trailing predecessors) "
    "— see the operator docstring for the pruning contract.",
)
def q_stream_decayed(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_upsert_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
    from real_time_rides_data_pipeline_spark.streaming.stateful import (
        running_decayed_scores,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    inp = stage_batches("decayed", sf_dir, lambda: [ev.repartition(2)])
    run_dir = _scratch_dir(prefix="decayed_run_")
    out, ckpt = f"{run_dir}/out", f"{run_dir}/ckpt"
    # same state-store shuffle-width knee as q_stateful_running (16 @ 32c),
    # pinned on a per-writer session clone, never the shared session conf
    writer = scoped_writer_session(spark, shuffle_partitions=16)
    stream = parquet_stream(writer, inp, ev.schema, max_files_per_trigger=1)
    run_to_completion(
        foreach_batch_merge(
            running_decayed_scores(stream),
            ckpt,
            lambda bdf, _bid: merge_upsert_parquet(
                bdf.sparkSession, bdf, out, ("event_id",)
            ),
        )
    )
    return (
        spark.read.parquet(out)
        .select("event_id", "user_id", "decayed")
        .orderBy("event_id")
    )


# =========================================================================
# Last-touch attribution (as-of with tolerance over the event stream)
# =========================================================================


@register(
    "q_attribution_lasttouch",
    """WITH p AS (SELECT user_id, ts, event_id,
                         CAST(round(value*100) AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase'),
       t AS (SELECT user_id, ts, event_id, event_type
             FROM events WHERE event_type IN ('click', 'view'))
       SELECT coalesce(a.event_type, 'direct') AS channel,
              CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(sum(p.cents) AS BIGINT) AS total_cents
       FROM p LEFT JOIN LATERAL (
         SELECT event_type FROM t
         WHERE t.user_id = p.user_id AND t.ts <= p.ts
           AND t.ts >= p.ts - INTERVAL 3 DAY
         ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) a ON true
       GROUP BY channel ORDER BY channel""",
    "Last-touch marketing attribution: every purchase is attributed to "
    "the user's most recent click/view at or before it, within a 3-day "
    "lookback (stale touches fall to the 'direct' bucket) — the oracle is "
    "the per-purchase LATERAL argmax, the Spark plan is the union-window "
    "as-of join with tolerance (operators.joins.asof_join): tag both "
    "sides, union, last(ignorenulls) over (user ORDER BY ts, side) — ONE "
    "shuffle on user_id, no per-key nested loop, the same state shape the "
    "streaming version holds. Touches are deduped to one per (user, ts) "
    "keeping max event_id, matching the oracle's (ts, event_id) DESC "
    "tie-break exactly.",
)
def q_attribution_lasttouch(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("cents")
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("touch_type")
    )
    # unique per (user, ts): keep the max event_id — the oracle's tie-break
    wdedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    touches = (
        touches.withColumn("__rn", F.row_number().over(wdedup))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "event_id")
    )
    attributed = asof_join(
        purchases,
        touches,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload="touch_type",
        tolerance_seconds=3 * 24 * 3600,
    )
    return (
        attributed.groupBy(
            F.coalesce(F.col("touch_type"), F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("channel")
    )


# =========================================================================
# Shuffle-key skew probe
# =========================================================================


@register(
    "q_skew_report",
    """WITH k AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
                  FROM lineitem GROUP BY l_suppkey),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
                      CAST(count(*) AS BIGINT) AS ndv FROM k)
       SELECT rnk, l_suppkey, n,
              CAST(n * 1000000 // total_rows AS BIGINT) AS share_ppm,
              CAST(n * ndv * 100 // total_rows AS BIGINT) AS skew_x100,
              total_rows, ndv
       FROM (SELECT *, row_number() OVER (ORDER BY n DESC, l_suppkey) AS rnk
             FROM k), tot
       WHERE rnk <= 5 ORDER BY rnk""",
    "Shuffle-key skew probe — the planning query you run BEFORE choosing "
    "a join strategy: per-key row counts for a prospective shuffle key "
    "(l_suppkey), top-5 heavy hitters with absolute share (ppm) and "
    "skew_x100 = key size vs mean key size (100 = perfectly uniform). A "
    "skew_x100 in the thousands is the signal to salt (q_salted_join) or "
    "let AQE split. Scale: one map-side-combined count per key, a 1-row "
    "total broadcast back, TakeOrdered for the top-5 — the probe costs "
    "one scan regardless of skew.",
)
def q_skew_report(spark, sf_dir):
    k = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = k.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
    )
    top5 = k.orderBy(F.desc("n"), "l_suppkey").limit(5)
    wr = Window.orderBy(F.desc("n"), "l_suppkey")
    return (
        top5.withColumn("rnk", F.row_number().over(wr))
        .crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "l_suppkey",
            "n",
            F.expr("n * 1000000 div total_rows").alias("share_ppm"),
            F.expr("n * ndv * 100 div total_rows").alias("skew_x100"),
            "total_rows",
            "ndv",
        )
        .orderBy("rnk")
    )


# =========================================================================
# Burst detection (rate anomaly over a gappy minute series)
# =========================================================================


@register(
    "q_burst_detect",
    """WITH m AS (SELECT event_type,
                         CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT)
                           AS minute_id,
                         CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1, 2),
       w AS (SELECT event_type, minute_id, c,
                    sum(c) OVER (PARTITION BY event_type ORDER BY minute_id
                                 RANGE BETWEEN 60 PRECEDING AND 1 PRECEDING)
                      AS trailing_c
             FROM m)
       SELECT event_type, minute_id, c, CAST(trailing_c AS BIGINT) AS trailing_c
       FROM w
       WHERE trailing_c IS NOT NULL AND c * 60 > 3 * trailing_c
       ORDER BY event_type, minute_id""",
    "Burst detection over a GAPPY per-minute rate series: a (type, "
    "minute) is a burst when its count exceeds 3x the trailing 60-minute "
    "average — computed as the exact-integer cross-multiplication "
    "c*60 > 3*trailing, with the trailing hour taken as a RANGE frame "
    "over the integer minute id so missing minutes subtract from the "
    "window instead of silently stretching it (a ROWS frame would span "
    "hours of real time on a sparse key). Scale: one map-side-combined "
    "(type, minute) aggregate, then one window shuffle on event_type — "
    "the frame state is bounded by 60 rows per key.",
)
def q_burst_detect(spark, sf_dir):
    m = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(unix_micros(date_trunc('minute', ts)) div 60000000"
                   " AS BIGINT)").alias("minute_id"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute_id")
        .rangeBetween(-60, -1)
    )
    return (
        m.withColumn("trailing_c", F.sum("c").over(w).cast("long"))
        .filter(
            F.col("trailing_c").isNotNull()
            & (F.col("c") * 60 > 3 * F.col("trailing_c"))
        )
        .orderBy("event_type", "minute_id")
    )


# =========================================================================
# Vector-column per-dimension profile
# =========================================================================


@register(
    "q_embed_dimstats",
    """WITH x AS (
         SELECT u.i AS dim,
                CAST(floor(CAST(u.v AS DOUBLE) * 1000000) AS BIGINT) AS s
         FROM embeddings,
              LATERAL (SELECT generate_subscripts(embedding, 1) AS i,
                              unnest(embedding) AS v) u)
       SELECT dim, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(s) AS BIGINT) AS sum_scaled,
              CAST(min(s) AS BIGINT) AS min_scaled,
              CAST(max(s) AS BIGINT) AS max_scaled
       FROM x GROUP BY dim ORDER BY dim""",
    "Per-DIMENSION profile of the embedding column (count / sum / min / "
    "max at 1e-6 scale) — the feature-normalization fit every vector "
    "pipeline runs before quantization or whitening. Values are "
    "floor-scaled to exact integers BEFORE aggregation: floor sees the "
    "identical binary double in both engines (precision.py fact #1) and "
    "integer sums are summation-order-independent, so the profile is "
    "bit-reproducible under any partitioning — a float sum would differ "
    "run to run. Scale: posexplode fans each row out x64 inside codegen "
    "(no shuffle), then ONE map-side-combined aggregate on a key space "
    "of exactly 64 dims.",
)
def q_embed_dimstats(spark, sf_dir):
    x = (
        _t(spark, sf_dir, "embeddings", parallel=True)
        .select(F.posexplode("embedding").alias("pos", "v"))
        .select(
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 1000000)
            .cast("long")
            .alias("s"),
        )
    )
    return (
        x.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s").cast("long").alias("sum_scaled"),
            F.min("s").cast("long").alias("min_scaled"),
            F.max("s").cast("long").alias("max_scaled"),
        )
        .orderBy("dim")
    )


# =========================================================================
# Schema-evolution union
# =========================================================================


@register(
    "q_union_evolve",
    """WITH early AS (SELECT event_id, event_type,
                             CAST(round(value*100) AS BIGINT) AS cents
                      FROM events WHERE ts < TIMESTAMP '2024-01-15'),
       late AS (SELECT event_id, event_type,
                       CAST(round(value*100) AS BIGINT) AS cents,
                       CAST(length(props) AS BIGINT) AS props_len
                FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
       u AS (SELECT * FROM early UNION ALL BY NAME SELECT * FROM late)
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(count(props_len) AS BIGINT) AS n_with_props,
              CAST(sum(cents) AS BIGINT) AS total_cents,
              CAST(coalesce(sum(props_len), 0) AS BIGINT) AS total_props_len
       FROM u GROUP BY event_type ORDER BY event_type""",
    "Schema-evolution union: an early extract (3 columns) unified with a "
    "late extract that gained a column (props_len), via unionByName("
    "allowMissingColumns=True) — the missing column NULL-fills, exactly "
    "DuckDB's UNION ALL BY NAME and Delta's mergeSchema read semantics "
    "(the batch face of sinks.py's mergeSchema parity). The aggregate "
    "distinguishes physical presence (count(props_len)) from row count. "
    "Scale: both halves are partition-prunable scans of the same table; "
    "the union is plan-level (no data movement) and the only shuffle is "
    "the final 5-group aggregate.",
)
def q_union_evolve(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    early = ev.filter(F.col("ts") < cutoff).select(
        "event_id", "event_type", cents(F.col("value")).alias("cents")
    )
    late = ev.filter(F.col("ts") >= cutoff).select(
        "event_id",
        "event_type",
        cents(F.col("value")).alias("cents"),
        F.length("props").cast("long").alias("props_len"),
    )
    u = early.unionByName(late, allowMissingColumns=True)
    return (
        u.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("props_len").alias("n_with_props"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.coalesce(F.sum("props_len"), F.lit(0))
            .cast("long")
            .alias("total_props_len"),
        )
        .orderBy("event_type")
    )


# =========================================================================
# Snapshot diff (the inverse of CDC apply)
# =========================================================================


@register(
    "q_snapshot_diff",
    """WITH a AS (SELECT o_orderkey, o_orderstatus,
                         CAST(round(o_totalprice*100) AS BIGINT) AS cents
                  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
       b AS (SELECT o_orderkey,
                    CASE WHEN o_orderkey % 100 = 0 THEN 'X'
                         ELSE o_orderstatus END AS o_orderstatus,
                    CAST(round(o_totalprice*100) AS BIGINT) AS cents
             FROM orders WHERE o_orderkey % 997 <> 0),
       d AS (SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                         WHEN b.o_orderkey IS NULL THEN 'removed'
                         WHEN a.o_orderstatus <> b.o_orderstatus
                              OR a.cents <> b.cents THEN 'changed'
                         ELSE 'unchanged' END AS change_type
             FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey)
       SELECT change_type, CAST(count(*) AS BIGINT) AS n
       FROM d GROUP BY change_type ORDER BY change_type""",
    "Snapshot diff — the INVERSE of q_cdc_apply: given two keyed table "
    "snapshots (old = pre-1998 orders; new = current orders with every "
    "997th key deleted and every 100th status amended), derive the "
    "changelog classification added / removed / changed / unchanged by "
    "FULL OUTER join on the key and column comparison on exact values "
    "(status, integer cents). This is how you bootstrap CDC when the "
    "source system has no op log. Scale: full outer cannot broadcast "
    "either side — one hash shuffle per side on the key, then a compact "
    "4-group aggregate; the comparison columns are pruned to exactly "
    "what the classifier reads.",
)
def q_snapshot_diff(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("ak"),
        F.col("o_orderstatus").alias("astatus"),
        cents(F.col("o_totalprice")).alias("acents"),
    )
    b = orders.filter(F.col("o_orderkey") % 997 != 0).select(
        F.col("o_orderkey").alias("bk"),
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("bstatus"),
        cents(F.col("o_totalprice")).alias("bcents"),
    )
    d = a.join(b, a["ak"] == b["bk"], "full").select(
        F.when(F.col("ak").isNull(), "added")
        .when(F.col("bk").isNull(), "removed")
        .when(
            (F.col("astatus") != F.col("bstatus"))
            | (F.col("acents") != F.col("bcents")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type")
    )
    return (
        d.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )


# =========================================================================
# Vocabulary build + dictionary encode
# =========================================================================


@register(
    "q_vocab_encode",
    """WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
         FROM documents),
       vocab AS (
         SELECT tok,
                CAST(dense_rank() OVER (ORDER BY n DESC, tok) AS BIGINT)
                  AS tid
         FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok)),
       enc AS (SELECT t.doc_id, v.tid FROM toks t JOIN vocab v USING (tok))
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(tid) AS BIGINT) AS sum_ids,
              CAST(min(tid) AS BIGINT) AS min_id,
              CAST(max(tid) AS BIGINT) AS max_id
       FROM enc GROUP BY doc_id ORDER BY doc_id""",
    "Vocabulary build + dictionary encoding — the tokenize-to-ids step of "
    "every training-data pipeline: token ids are assigned by corpus "
    "frequency (rank 1 = most frequent; ties broken by token, a total "
    "order, so the id map is deterministic), then each document is "
    "re-encoded and profiled (token count, id-sum checksum, min/max id). "
    "Scale: the frequency count is one map-side-combined shuffle; the id "
    "assignment is a window over the DISTINCT-TOKEN table — "
    "domain-bounded (vocab ≪ corpus), the standard single-sort dictionary "
    "build; the encode join hashes tokens against the vocab (broadcast "
    "when the vocab fits); re-tokenizing the corpus for the encode pass "
    "is deliberate — cheaper at scale than materializing the exploded "
    "token stream.",
)
def q_vocab_encode(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions import text as X

    def toks(df):
        return df.select(
            "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok")
        )

    docs = _t(spark, sf_dir, "documents", parallel=True)
    freq = toks(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.orderBy(F.desc("n"), "tok")
    vocab = freq.select(
        "tok", F.dense_rank().over(wv).cast("long").alias("tid")
    )
    enc = toks(docs).join(vocab, "tok").select("doc_id", "tid")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tid").cast("long").alias("sum_ids"),
            F.min("tid").cast("long").alias("min_id"),
            F.max("tid").cast("long").alias("max_id"),
        )
        .orderBy("doc_id")
    )


# =========================================================================
# Physical-file lineage audit
# =========================================================================


@register(
    "q_file_lineage",
    # The one oracle that cannot run on the pre-registered views: DuckDB
    # exposes the source file only through read_parquet(filename=true).
    # Both the driver gate and the pytest oracle harness compare at
    # EXACTLY sf0.01 (tests/conftest.ORACLE_SF), so the literal path is
    # the same dataset the Spark side receives as sf_dir.
    """SELECT parse_filename(filename) AS file_name,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(min(l_orderkey) AS BIGINT) AS min_key,
              CAST(max(l_orderkey) AS BIGINT) AS max_key
       FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet',
                         filename=true)
       GROUP BY file_name ORDER BY file_name""",
    "Physical-file lineage audit via the hidden ``_metadata`` struct "
    "(Spark 3.2+): rows and key span per source parquet file — the "
    "manifest query behind incremental backfills, bad-file quarantine, "
    "and compaction verification. The fixture table is one file; at "
    "scale this is the per-file freshness/row-count report over "
    "thousands of scan files, computed in the SAME pass as the scan "
    "(the metadata column is constant-folded per file, no extra IO). "
    "Scale: one map-side-combined aggregate keyed by file name.",
)
def q_file_lineage(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.sources import load_fixture

    li = load_fixture(spark, "lineitem", sf_dir)
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"), "l_orderkey")
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").cast("long").alias("min_key"),
            F.max("l_orderkey").cast("long").alias("max_key"),
        )
        .orderBy("file_name")
    )


# =========================================================================
# Degree distribution of the co-purchase graph
# =========================================================================


@register(
    "q_degree_dist",
    """WITH e0 AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
                   FROM lineitem),
       edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges
               GROUP BY src)
       SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(min(d) AS BIGINT) AS min_deg,
              CAST(max(d) AS BIGINT) AS max_deg
       FROM deg GROUP BY bucket ORDER BY bucket""",
    "Log2-bucketed degree distribution of the symmetrized part<->supplier "
    "graph — the probe you run BEFORE any graph algorithm (CC, PageRank, "
    "triangles) to see whether high-degree hubs will dominate a round. "
    "The bucket is length(bin(d))-1 = floor(log2 d) computed on INTEGER "
    "bit length, never libm log2 (whose last-ulp rounding differs across "
    "engines — SURVEY §7.4 / the oracle-determinism rules). Scale: "
    "distinct-edge shuffle, per-node degree count, then a ~10-key "
    "histogram aggregate — all map-side combined.",
)
def q_degree_dist(spark, sf_dir):
    e0 = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.select((F.length(F.bin("d")) - 1).cast("long").alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
        .orderBy("bucket")
    )


# =========================================================================
# OHLC time bars
# =========================================================================


def _packed_bar_order(bar):
    """(ts, event_id) event-time total order PACKED into one BIGINT for
    min_by/max_by: the µs offset of ``ts`` within its hour ``bar``
    (< 3_600_000_000, 32 bits) shifted left 31, plus ``event_id``.
    Max value (3.6e9-1)·2^31 + 2^31-1 ≈ 7.73e18 < 2^63. A single long
    comparison replaces the struct comparator in the aggregate's hot loop
    (measured: q_ohlc_bars f64 6.93 → 2.83 s, slope 0.71 → 0.50).
    Precondition event_id ∈ [0, 2^31) is enforced IN the plan (per-row,
    no extra pass; the guard feeds the output so Catalyst keeps it) —
    an id at or past 2^31 would wrap and could misorder equal-µs ties,
    so it fails loudly instead. Wider bars (day/month rollup hops) must
    re-derive the shift from their own offset bound or use the struct
    ordering key."""
    off = F.unix_micros(F.col("ts")) - F.unix_micros(bar)
    guarded_id = F.when(
        (F.col("event_id") >= 0) & (F.col("event_id") < (1 << 31)),
        F.col("event_id"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "packed OHLC ordering key needs event_id in [0, 2^31); "
                "use the struct (ts, event_id) ordering key instead"
            )
        ).cast("long")
    )
    return off * F.lit(1 << 31) + guarded_id


_OHLC_ORACLE = """SELECT event_type,
              date_trunc('hour', ts) AS bar,
              CAST(count(*) AS BIGINT) AS volume,
              CAST(first(round(value * 100) ORDER BY ts, event_id) AS BIGINT)
                  AS open_cents,
              CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS high_cents,
              CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS low_cents,
              CAST(last(round(value * 100) ORDER BY ts, event_id) AS BIGINT)
                  AS close_cents
       FROM events GROUP BY event_type, bar"""


@register(
    "q_ohlc_bars",
    _OHLC_ORACLE,
    "OHLC downsampling — the canonical time-series bar compaction: per "
    "(series, hour) the first/last value in event-time order (total-"
    "ordered by (ts, event_id)) plus high/low/volume, all exact cents. "
    "Shape: ONE hash aggregate with min_by/max_by ordering — no window, no "
    "per-bar sort; each 3600x compaction step is a single "
    "map-side-combining agg keyed by (series, bar), the standard telemetry "
    "rollup ladder (hour → day → month reuses the same shape because "
    "first/last compose through it). The ordering key is (ts, event_id) "
    "PACKED into one BIGINT — within-bar µs offset (< 3.6e9, 32 bits) "
    "shifted by 31 plus the id — because struct min_by/max_by comparisons "
    "dominated the scan: probe A/B 2026-08-15, f64 6.93 → 2.83 s, slope "
    "0.71 → 0.50, values bit-identical. Precondition event_id < 2^31 is "
    "enforced in-plan (day/month ladder hops refit the offset width or "
    "fall back to the struct key).",
)
def q_ohlc_bars(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = cents(F.col("value"))
    bar = F.date_trunc("hour", F.col("ts"))
    return (
        ev.select(
            "event_type",
            bar.alias("bar"),
            c.alias("c"),
            _packed_bar_order(bar).alias("o"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.count("*").alias("volume"),
            F.min_by("c", "o").alias("open_cents"),
            F.max("c").alias("high_cents"),
            F.min("c").alias("low_cents"),
            F.max_by("c", "o").alias("close_cents"),
        )
    )


@register(
    "q_stream_ohlc",
    _OHLC_ORACLE,
    "STREAMING OHLC — the live demonstration that DISTRIBUTIVE aggregates "
    "beyond sums stream through a keyed fold: events replay as a REAL "
    "2-micro-batch stream; each batch computes per-(series, bar) partials "
    "(volume as sum, high/low as max/min, open/close as min/max over a "
    "lexicographic (packed event-time key, cents) struct — argmin/argmax "
    "as a monoid), and foreachBatch folds them through "
    "sinks.merge_distributive_parquet (batch_id-idempotent, crash-ordered "
    "swap). Extrema and argmin/argmax merge exactly, so the folded bars "
    "are BIT-IDENTICAL to the batch bars and answer to q_ohlc_bars' "
    "oracle. This is the incremental bar-builder: per-window "
    "partials stream in, closed bars never rescan.",
)
def q_stream_ohlc(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    inp = stage_batches("ohlcstream", sf_dir, lambda: [ev.repartition(2)])
    run_dir = _scratch_dir(prefix="ohlcstream_run_")
    state, ckpt = f"{run_dir}/bars", f"{run_dir}/ckpt"
    stream = parquet_stream(spark, inp, ev.schema, max_files_per_trigger=1)

    def partials(batch_df):
        c = cents(F.col("value"))
        bar = F.date_trunc("hour", F.col("ts"))
        # Ordering key packed into one BIGINT (see _packed_bar_order) with
        # the carried cents alongside: the struct stays the argmin/argmax
        # MONOID the merge folds (lexicographic min/max), but its first
        # field now decides every comparison with a single long compare —
        # the packed key is unique per event, so `c` never orders, it only
        # rides along for the final okey.c / ckey.c projection.
        okey = F.struct(_packed_bar_order(bar).alias("o"), c.alias("c"))
        return (
            batch_df.select(
                "event_type",
                bar.alias("bar"),
                c.alias("c"),
                okey.alias("okey"),
            )
            .groupBy("event_type", "bar")
            .agg(
                F.count("*").alias("volume"),
                F.min("okey").alias("okey"),
                F.max("c").alias("high_cents"),
                F.min("c").alias("low_cents"),
                F.max("okey").alias("ckey"),
            )
        )

    def fold(batch_df, batch_id: int) -> None:
        merge_distributive_parquet(
            batch_df.sparkSession,
            partials(batch_df),
            state,
            keys=("event_type", "bar"),
            agg_spec={
                "volume": "sum",
                "okey": "min",
                "high_cents": "max",
                "low_cents": "min",
                "ckey": "max",
            },
            batch_id=batch_id,
            # Per-WRITER state layout (8 files), not a session
            # spark.sql.shuffle.partitions mutation: a concurrent query
            # sharing this session must never observe a sink's width.
            num_partitions=8,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))
    bars = spark.read.parquet(state)
    return bars.select(
        "event_type",
        "bar",
        "volume",
        F.col("okey.c").alias("open_cents"),
        "high_cents",
        "low_cents",
        F.col("ckey.c").alias("close_cents"),
    )


# =========================================================================
# Kafka wire-frame parse (offline twin of the broker read)
# =========================================================================


@register(
    "q_kafka_frame_parse",
    """SELECT event_id,
              CAST(event_id AS BIGINT) AS key_id,
              'rides_stream' AS topic,
              CAST(event_id % 6 AS INT) AS partition,
              CAST(row_number() OVER (PARTITION BY event_id % 6
                                      ORDER BY ts, event_id) - 1 AS BIGINT)
                  AS koffset,
              ts,
              event_type,
              CAST(round(value * 100) AS BIGINT) AS value_cents
       FROM events""",
    "Kafka WIRE-FRAME parse, broker-free: events are first encoded into "
    "the frame schema a Kafka read produces (key/value as BINARY "
    "JSON/UTF-8, topic, partition, per-partition monotone offsets), then "
    "decoded the way the Bronze layer must: value bytes → string → "
    "from_json → typed columns, key bytes → string → id, frame metadata "
    "carried through as lineage. Keying mirrors the reference producer's "
    "ride_id key (kafka_rides_producer.py:84-96; event_id is ride_id's "
    "fixture analogue); partition = event_id mod 6 is a DETERMINISTIC "
    "stand-in for the broker's murmur2 key-hash partitioner over the "
    "reference topic's 6 partitions — same key→partition stability "
    "contract, reproducible across engines for the oracle. The ORACLE "
    "pins the decoded values straight from the source table, so the whole "
    "encode→decode round trip must be lossless (timestamps, doubles, "
    "nested JSON props). This is the remaining testable half of the "
    "src_kafka contract (sources/kafka.py holds the connector options; no "
    "broker/jar exists in this container); per-partition offset "
    "assignment is the only sort, keyed by the 6 partitions exactly as a "
    "broker log would be.",
)
def q_kafka_frame_parse(spark, sf_dir):
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    # --- encode: the frame a kafka source would deliver -------------------
    w_off = Window.partitionBy(F.pmod(F.col("event_id"), F.lit(6))).orderBy(
        "ts", "event_id"
    )
    # Microsecond timestampFormat on BOTH legs: Spark's default to_json
    # format is millisecond-precision, which would silently truncate event
    # times — the oracle compares the decoded ts against the source column,
    # so any loss fails the hash.
    ts_fmt = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}
    frames = ev.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
            ts_fmt,
        ).cast("binary").alias("value"),
        F.lit("rides_stream").alias("topic"),
        F.pmod(F.col("event_id"), F.lit(6)).cast("int").alias("partition"),
        (F.row_number().over(w_off) - 1).cast("long").alias("koffset"),
    )
    # --- decode: what Bronze must do with those bytes ---------------------
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    parsed = frames.select(
        F.from_json(
            F.col("value").cast("string"), payload_schema, ts_fmt
        ).alias("d"),
        F.col("key").cast("string").cast("long").alias("key_id"),
        "topic",
        "partition",
        "koffset",
    )
    return parsed.select(
        F.col("d.event_id").alias("event_id"),
        "key_id",
        "topic",
        "partition",
        "koffset",
        F.col("d.ts").alias("ts"),
        F.col("d.event_type").alias("event_type"),
        cents(F.col("d.value")).alias("value_cents"),
    )


# =========================================================================
# Funnel time-to-convert
# =========================================================================


@register(
    "q_time_to_convert",
    """WITH s AS (
         SELECT user_id, min(ts) AS signup_ts
         FROM events WHERE event_type = 'signup' GROUP BY user_id
       ), p AS (
         SELECT e.user_id, min(e.ts) AS purchase_ts
         FROM events e JOIN s ON e.user_id = s.user_id
                              AND e.ts >= s.signup_ts
         WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       SELECT user_id, signup_ts, purchase_ts,
              CAST(date_diff('microseconds', signup_ts, purchase_ts)
                   AS BIGINT) AS delta_us
       FROM s JOIN p USING (user_id)""",
    "Funnel time-to-convert: per user, the first signup and the first "
    "purchase AT OR AFTER it, with the conversion latency in exact integer "
    "microseconds — the duration companion to q_funnel_steps' step counts. "
    "Shape: two event-type-filtered min-aggregates (pushed predicates, "
    "map-side combine) and one equi-join on user_id — per-user state is "
    "two timestamps, never an event list; downstream latency percentiles "
    "are a |converted users|-sized re-agg the caller owns.",
)
def q_time_to_convert(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return s.join(p, "user_id").select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")).alias(
            "delta_us"
        ),
    )


# =========================================================================
# Warehouse/product-analytics completion — SCD2 intervals,
# user path mining, cohort retention
# =========================================================================


@register(
    "q_scd2_intervals",
    """WITH marked AS (
         SELECT user_id, event_type, ts, event_id,
                CASE WHEN event_type IS DISTINCT FROM
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                     THEN 1 ELSE 0 END AS chg
         FROM events
       ), runs AS (
         SELECT user_id, event_type, ts,
                sum(chg) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS grp
         FROM marked
       ), islands AS (
         SELECT user_id, event_type, grp,
                min(ts) AS valid_from,
                CAST(count(*) AS BIGINT) AS n_events
         FROM runs GROUP BY user_id, event_type, grp)
       SELECT user_id, event_type, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id
                                     ORDER BY grp) AS valid_to,
              n_events,
              (lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp)
               IS NULL) AS is_current
       FROM islands""",
    "SCD TYPE-2 interval derivation — the gaps-and-islands transform that "
    "turns an event log into a slowly-changing-dimension history: per "
    "user, maximal runs of consecutive equal attribute values (event_type "
    "as the tracked attribute, total-ordered by (ts, event_id)) become "
    "validity intervals [valid_from, valid_to) with the open current row "
    "flagged — the standard way a warehouse materializes "
    "point-in-time join dimensions from CDC/event feeds. Shape: one "
    "change-marker + cumulative-sum window pass over user partitions "
    "(single shuffle on user_id), then the per-run aggregate and the "
    "lead() stitching run over the RUNS table, which is bounded by the "
    "change count, not the event count.",
)
def q_scd2_intervals(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.col("event_type").eqNullSafe(
            F.lag("event_type").over(w)
        ),
        1,
    ).otherwise(0)
    runs = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.sum(chg).over(w).alias("grp"),
    )
    islands = runs.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_runs = Window.partitionBy("user_id").orderBy("grp")
    valid_to = F.lead("valid_from").over(w_runs)
    return islands.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )


@register(
    "q_funnel_paths",
    """WITH r AS (
         SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events
       ), p AS (
         SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         FROM r WHERE rn <= 5 GROUP BY user_id)
       SELECT path, CAST(count(*) AS BIGINT) AS n_users
       FROM p GROUP BY path
       ORDER BY n_users DESC, path LIMIT 20""",
    "User-journey PATH MINING: each user's first five events (total-"
    "ordered by (ts, event_id)) joined into a path string, top-20 paths "
    "by user count — the sequence-level companion to q_event_transitions' "
    "pairwise Markov matrix. Shape: one rank window per user partition "
    "(single shuffle on user_id, frame capped at 5 rows via the rn "
    "filter), per-user ordered assembly via sort_array(collect_list("
    "struct(rn, type))) — deterministic, never relying on collect_list "
    "order — then a path-count agg whose domain is bounded by the "
    "event-type alphabet (≤ 5^5 paths at ANY data size) and a "
    "TakeOrderedAndProject top-20.",
)
def q_funnel_paths(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    p = r.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@register(
    "q_retention_cohorts",
    """WITH first AS (
         SELECT user_id,
                CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
         FROM events GROUP BY user_id
       ), act AS (
         SELECT DISTINCT user_id,
                CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
       ), j AS (
         SELECT f.cohort_week,
                date_diff('day', f.cohort_week, a.wk) // 7 AS week_offset
         FROM act a JOIN first f USING (user_id)
       ), counts AS (
         SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
                CAST(count(*) AS BIGINT) AS n_users
         FROM j GROUP BY cohort_week, week_offset)
       SELECT c.cohort_week, c.week_offset, c.n_users,
              b.n_users AS n_cohort,
              CAST(c.n_users * 1000000 // b.n_users AS BIGINT) AS ret_ppm
       FROM counts c JOIN counts b
         ON b.cohort_week = c.cohort_week AND b.week_offset = 0""",
    "Weekly COHORT RETENTION matrix — the product-analytics staple: users "
    "cohorted by the ISO week of their first event; each (cohort, "
    "week-offset) cell counts distinct users active that week, with "
    "retention vs the cohort's week-0 size in exact integer ppm. Shape: "
    "per-user first-week agg + a DISTINCT (user, week) activity "
    "compression (both keyed map-side-combined shuffles on user_id), one "
    "equi-join on user_id, then the cell agg runs on |users × active "
    "weeks| rows and the week-0 join is broadcast (cells are bounded by "
    "weeks², never by events).",
)
def q_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    j = act.join(first, "user_id").select(
        "cohort_week",
        F.expr("datediff(wk, cohort_week) div 7").cast("long").alias(
            "week_offset"
        ),
    )
    counts = j.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    base = counts.filter(F.col("week_offset") == 0).select(
        F.col("cohort_week").alias("b_week"),
        F.col("n_users").alias("n_cohort"),
    )
    return counts.join(
        F.broadcast(base), counts.cohort_week == base.b_week
    ).select(
        "cohort_week",
        "week_offset",
        "n_users",
        "n_cohort",
        F.expr("n_users * 1000000 div n_cohort").alias("ret_ppm"),
    )


@register(
    "q_acf_hourly",
    """WITH s AS (
         SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY h
       ), l AS (
         SELECT k, c,
                lead(c, k) OVER (PARTITION BY k ORDER BY h) AS ck
         FROM s CROSS JOIN generate_series(1, 6) AS g(k)
       ), p AS (
         SELECT k,
                CAST(count(ck) AS BIGINT) AS n_pairs,
                CAST(sum(c * ck) AS BIGINT) AS sxy,
                CAST(sum(CASE WHEN ck IS NOT NULL THEN c END) AS BIGINT) AS sx,
                CAST(sum(ck) AS BIGINT) AS sy,
                CAST(sum(CASE WHEN ck IS NOT NULL THEN c * c END) AS BIGINT)
                    AS sxx,
                CAST(sum(ck * ck) AS BIGINT) AS syy
         FROM l GROUP BY k)
       SELECT CAST(k AS BIGINT) AS lag, n_pairs,
              CAST(n_pairs * sxy - sx * sy AS BIGINT) AS cov_num,
              CAST(CASE WHEN n_pairs * sxy >= sx * sy THEN 1 ELSE -1 END
                   * (CAST(n_pairs * sxy - sx * sy AS HUGEINT)
                      * (n_pairs * sxy - sx * sy) * 1000000
                      // (CAST(n_pairs * sxx - sx * sx AS HUGEINT)
                          * (n_pairs * syy - sy * sy))) AS BIGINT)
                  AS corr2_ppm
       FROM p ORDER BY lag""",
    "Exact-integer AUTOCORRELATION of the hourly event-count series at "
    "lags 1–6 — the load-seasonality audit for anything with a clock: "
    "per lag, the pairwise-covariance numerator n·Σxy − Σx·Σy and the "
    "SIGNED SQUARED correlation in ppm (corr² = cov²/(varx·vary) is "
    "rational, so unlike corr itself — whose sqrt is irrational — it is "
    "exactly computable; the sign rides separately). Over the overlapping "
    "pairs only, so the moment sums are per-lag (the standard unbiased "
    "pairwise form). Shape: one hourly hash agg compresses N events to "
    "the bounded hour domain; the 6 lag series come from lead(c, k) over "
    "that bounded table (the q_auc_roc small-domain window argument — "
    "never a window over raw rows); products widen to DECIMAL(38,0) "
    "where cov² can pass 2^63, quotient ppm ≤ 1e6 lands back in BIGINT.",
)
def q_acf_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lags = spark.range(1, 7).select(F.col("id").cast("int").alias("k"))
    l = s.crossJoin(F.broadcast(lags))
    w = Window.partitionBy("k").orderBy("h")
    # lead(c, k) with per-row k: expressible via the max-lag trick — take
    # all 6 leads once over the bounded hour table and pick the k-th.
    led = l.select(
        "k",
        "c",
        F.element_at(
            F.array(*[F.lead("c", i).over(w) for i in range(1, 7)]),
            F.col("k"),
        ).alias("ck"),
    )
    p = led.groupBy("k").agg(
        F.count("ck").alias("n_pairs"),
        F.sum(F.col("c") * F.col("ck")).alias("sxy"),
        F.sum(F.when(F.col("ck").isNotNull(), F.col("c"))).alias("sx"),
        F.sum("ck").alias("sy"),
        F.sum(
            F.when(F.col("ck").isNotNull(), F.col("c") * F.col("c"))
        ).alias("sxx"),
        F.sum(F.col("ck") * F.col("ck")).alias("syy"),
    )
    cov = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return p.select(
        F.col("k").cast("long").alias("lag"),
        "n_pairs",
        cov.cast("long").alias("cov_num"),
        (
            F.when(cov >= 0, 1).otherwise(-1)
            * F.expr(
                "(CAST(n_pairs * sxy - sx * sy AS DECIMAL(38,0))"
                " * (n_pairs * sxy - sx * sy) * 1000000)"
                " div (CAST(n_pairs * sxx - sx * sx AS DECIMAL(38,0))"
                "      * (n_pairs * syy - sy * sy))"
            )
        )
        .cast("long")
        .alias("corr2_ppm"),
    ).orderBy("lag")


# =========================================================================
# Interval analytics — distributed sweep line
# =========================================================================


@register(
    "q_max_concurrency",
    """WITH iv AS (
         SELECT ts AS s,
                ts + INTERVAL (1 + event_id % 10) MINUTE AS e,
                date_trunc('day', ts) AS sd,
                date_trunc('day', ts + INTERVAL (1 + event_id % 10) MINUTE)
                    AS ed
         FROM events
       ), pieces AS (
         SELECT sd AS day, s AS t0,
                CASE WHEN ed > sd THEN ed ELSE e END AS t1
         FROM iv
         UNION ALL
         SELECT ed, ed, e FROM iv WHERE ed > sd AND ed < e
       ), b AS (
         SELECT day, t0 AS t, 1 AS delta FROM pieces WHERE t0 < t1
         UNION ALL
         SELECT day, t1, -1 FROM pieces WHERE t0 < t1
       ), r AS (
         SELECT day, t,
                sum(delta) OVER (PARTITION BY day ORDER BY t, delta)
                    AS running
         FROM b
       ), m AS (
         SELECT day, t, running,
                max(running) OVER (PARTITION BY day) AS mx
         FROM r)
       SELECT CAST(day AS TIMESTAMP) AS day,
              CAST(mx AS BIGINT) AS max_concurrent,
              min(t) AS first_peak_ts
       FROM m WHERE running = mx
       GROUP BY day, mx""",
    "MAX CONCURRENCY per day — the distributed SWEEP LINE: each event "
    "opens a half-open interval [ts, ts + (1 + event_id%10) min) (a "
    "deterministic synthetic duration — the fixture has no end column), "
    "intervals are SPLIT at day boundaries so each day's sweep is "
    "self-contained (the standard trick that turns an inherently "
    "sequential global prefix sum into independent per-partition "
    "windows; durations are bounded at 10 min so at most one split, and "
    "the piece filter drops empty [t,t) fragments), then per day: ±1 "
    "boundary deltas, a cumulative sum ordered by (t, delta) — ends "
    "before starts at equal instants, the half-open touching rule — and "
    "the peak plus its FIRST attainment time. The default RANGE window "
    "frame gives tie groups their settled value on BOTH engines, so no "
    "arbitrary row tiebreak exists anywhere (fixture ts is µs-grain "
    "with no duplicates — verified — so the engines' µs/ns orderings "
    "agree). Shape: one scan → explode to ≤ 2 pieces / 4 boundary rows "
    "per event, ONE shuffle on day, windows + peak agg all inside the "
    "day partition; the day key fans the sweep across the cluster and "
    "no partition ever sees another day's rows.",
)
def q_max_concurrency(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.agg import (
        sweep_max_concurrency,
    )

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, 1 + pmod(event_id, 10), ts)").alias(
            "e"
        ),
    )
    return sweep_max_concurrency(iv)


@register(
    "q_cusum_drift",
    """WITH s AS (
         SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY h
       ), tot AS (
         SELECT CAST(count(*) AS BIGINT) AS nh, CAST(sum(cnt) AS BIGINT) AS t
         FROM s
       ), d AS (
         SELECT h, cnt, cnt * nh - t AS dev FROM s CROSS JOIN tot
       ), p AS (
         SELECT h, cnt, dev,
                sum(dev) OVER (ORDER BY h) AS pre
         FROM d)
       SELECT h AS hour, cnt, CAST(dev AS BIGINT) AS dev,
              CAST(pre - min(pre) OVER (ORDER BY h) AS BIGINT) AS cusum
       FROM p""",
    "CUSUM drift LOCALIZATION over the hourly load series — the "
    "changepoint companion to q_ks_drift (which tests two fixed windows) "
    "and q_acf_hourly (seasonality): per hour, the one-sided positive "
    "CUSUM statistic C_h = P_h − min_{j≤h} P_j where P is the running "
    "sum of the EXACT integer deviations cnt·H − T (scaled by the hour "
    "count so the mean-centering needs no division and Σdev = 0 "
    "exactly). The max(0,·) recurrence is the one-sided clamp, provably "
    "equal to the prefix-minus-running-min CLOSED FORM (the "
    "q_clamped_balance identity applied to drift detection), so the "
    "apparently sequential statistic is two stacked windows. Shape: one "
    "hourly hash agg compresses N events to the bounded hour domain; "
    "both windows and the 1-row total broadcast run over that bounded "
    "table (the q_auc_roc small-domain window argument) — never a "
    "window over raw events.",
)
def q_cusum_drift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Totals as whole-frame windows over the COMPRESSED hour table — not
    # an agg + crossJoin, which would re-execute the hourly aggregation
    # subtree (Catalyst does not dedupe it) and scan events twice.
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = s.select(
        "h",
        "cnt",
        (
            F.col("cnt") * F.count(F.lit(1)).over(wall)
            - F.sum("cnt").over(wall)
        ).alias("dev"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    p = d.withColumn("pre", F.sum("dev").over(w))
    return p.select(
        F.col("h").alias("hour"),
        "cnt",
        F.col("dev").cast("long").alias("dev"),
        (F.col("pre") - F.min("pre").over(w)).cast("long").alias("cusum"),
    )


@register(
    "q_weighted_median",
    """WITH w AS (
         SELECT l_returnflag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wt
         FROM lineitem GROUP BY l_returnflag, price_c
       ), c AS (
         SELECT l_returnflag, price_c, wt,
                sum(wt) OVER (PARTITION BY l_returnflag
                              ORDER BY price_c) AS cumw,
                sum(wt) OVER (PARTITION BY l_returnflag) AS totw
         FROM w)
       SELECT l_returnflag,
              CAST(min(totw) AS BIGINT) AS total_weight,
              CAST(min(price_c) AS BIGINT) AS median_price_cents
       FROM c WHERE 2 * cumw >= totw
       GROUP BY l_returnflag""",
    "EXACT WEIGHTED MEDIAN per group — the weighted companion to "
    "q_percentile_cont (unweighted exact percentile) and "
    "q_decile_bins: the lower weighted median of l_extendedprice "
    "(integer cents) weighted by l_quantity, i.e. the smallest price "
    "whose cumulative weight reaches half the group total — the "
    "quantity-weighted 'typical price' every pricing dashboard wants, "
    "computed with zero float arithmetic. Shape: the fact table first "
    "COMPRESSES to the (group, distinct price) domain with summed "
    "weights (one map-side-combined shuffle; the window never sees raw "
    "rows — the q_auc_roc distinct-domain argument), then one "
    "cumulative-sum window per group over that bounded domain and a "
    "threshold filter + min agg. Ties need no tiebreak: prices are "
    "distinct after compression and the RANGE-peer semantics of the "
    "default frame never split equal prices.",
)
def q_weighted_median(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.agg import (
        weighted_median,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("price_cents"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return weighted_median(li, ["l_returnflag"], "price_cents", "qty")


@register(
    "q_seasonal_profile",
    """WITH g AS (
         SELECT isodow(ts) AS dow, CAST(hour(ts) AS INT) AS hour_of_day,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY dow, hour_of_day
       )
       SELECT CAST(dow AS INT) AS dow, hour_of_day, n_events,
              CAST(n_events * 1000000 // (SELECT sum(n_events) FROM g)
                   AS BIGINT) AS share_ppm,
              n_events = max(n_events) OVER (PARTITION BY dow)
                  AS is_dow_peak
       FROM g""",
    "SEASONAL LOAD PROFILE — the day-of-week × hour-of-day heatmap every "
    "ops dashboard opens with, as exact integers: per (ISO dow, hour) "
    "cell, the event count, its floored ppm share of the corpus, and a "
    "peak flag within the weekday (ties all flagged — no arbitrary "
    "tiebreak). Complements q_acf_hourly (which detects that "
    "seasonality exists; this shows WHERE it lives). Cross-engine dow "
    "convention pinned by the builtin pair Spark weekday()+1 ≡ DuckDB "
    "isodow() (Monday=1..Sunday=7) — never the Sunday-first dayofweek "
    "trap. Shape: one hash agg compresses N events to ≤ 168 cells; the "
    "share subquery and peak window run over that constant-size table.",
)
def q_seasonal_profile(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        (F.weekday(F.col("ts")) + 1).alias("dow"),
        F.hour(F.col("ts")).alias("hour_of_day"),
    ).groupBy("dow", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # Grand total as a whole-frame window over the ≤168-cell table (an
    # agg + crossJoin would re-run the cell aggregation and scan events
    # twice — the q_cusum_drift argument).
    return g.select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hour_of_day").cast("int").alias("hour_of_day"),
        "n_events",
        F.expr(
            "n_events * 1000000 div (sum(n_events) OVER ())"
        ).cast("long").alias("share_ppm"),
        (
            F.col("n_events")
            == F.max("n_events").over(Window.partitionBy("dow"))
        ).alias("is_dow_peak"),
    )


# =========================================================================
# Geohash spatial indexing (encode + cell rollup)
# =========================================================================

#: Geohash base32 alphabet (public spec — no i, l, o; 'a' excluded).
_GEO_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geo_interleave_sql(x: str, y: str, shift_fn: str | None) -> str:
    """30-term bit interleave (lon bit 14 at bit 29 — the geohash spec's
    lon-first ordering) as portable integer arithmetic. ``shift_fn``
    selects the dialect: ``'shiftright'`` (Spark SQL) or None for the
    ``>>`` operator (DuckDB)."""
    terms = []
    for i in range(15):
        sx = f"shiftright({x}, {i})" if shift_fn else f"({x} >> {i})"
        sy = f"shiftright({y}, {i})" if shift_fn else f"({y} >> {i})"
        terms.append(f"({sx} & 1) * {1 << (2 * i + 1)}")
        terms.append(f"({sy} & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


def _geo_b32_sql(code: str, shift_fn: str | None) -> str:
    """6-char base32 of a 30-bit code via substring of the literal
    alphabet — identical on both engines."""
    parts = []
    for k in range(6):
        sh = 25 - 5 * k
        s = (
            f"shiftright({code}, {sh})" if shift_fn else f"(({code}) >> {sh})"
        )
        parts.append(
            f"substr('{_GEO_ALPHA}', CAST(({s} & 31) AS INT) + 1, 1)"
        )
    return " || ".join(parts)


_GEO_DUCK = f"""WITH pts AS (
         SELECT user_id,
                (user_id * 2654435761) % 180000000 - 90000000 AS lat_u,
                (event_id * 2654435761) % 360000000 - 180000000 AS lon_u
         FROM events
       ), q AS (
         SELECT user_id,
                (lon_u + 180000000) * 32768 // 360000000 AS x15,
                (lat_u + 90000000) * 32768 // 180000000 AS y15
         FROM pts
       ), code AS (
         SELECT user_id, {_geo_interleave_sql('x15', 'y15', None)} AS c
         FROM q)
       SELECT {_geo_b32_sql('c', None)} AS geohash6,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM code GROUP BY geohash6
       ORDER BY n_events DESC, geohash6 LIMIT 50"""


@register(
    "q_geohash_cells",
    _GEO_DUCK,
    "GEOHASH spatial indexing — encode + cell rollup, the missing "
    "spatial-INDEX half next to q_grid_join_radius's spatial JOIN: "
    "points (deterministic Knuth-hash µdegree coordinates — the fixture "
    "has no geo columns) quantize to 15-bit lat/lon cells, interleave "
    "lon-first into the 30-bit geohash code (pure shift/mask integer "
    "arithmetic, generated ONCE for both engines by the same Python — "
    "no float trig anywhere), base32-encode to the 6-char cell id, then "
    "per-cell event/user counts with a top-50 TakeOrderedAndProject "
    "cut. Geohash prefixes are the PARTITION "
    "KEY for spatial data — a prefix filter prunes directories exactly "
    "like a date partition, and cell-level rollups are one hash agg. "
    "Shape: narrow map (the 30-term interleave is whole-stage-codegen "
    "branch-free bit arithmetic) → one (cell) agg with partial "
    "count-distinct → top-k heap.",
)
def q_geohash_cells(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        (F.pmod(F.col("user_id") * 2654435761, F.lit(180000000)) - 90000000)
        .alias("lat_u"),
        (F.pmod(F.col("event_id") * 2654435761, F.lit(360000000)) - 180000000)
        .alias("lon_u"),
    )
    q = pts.select(
        "user_id",
        F.expr("(lon_u + 180000000) * 32768 div 360000000").alias("x15"),
        F.expr("(lat_u + 90000000) * 32768 div 180000000").alias("y15"),
    )
    code = q.select(
        "user_id",
        F.expr(_geo_interleave_sql("x15", "y15", "shiftright")).alias("c"),
    )
    cells = code.select(
        "user_id", F.expr(_geo_b32_sql("c", "shiftright")).alias("geohash6")
    )
    return (
        cells.groupBy("geohash6")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_events").desc(), "geohash6")
        .limit(50)
    )


# =========================================================================
# Week-over-week growth — the canonical periodic
# growth readout over a bounded calendar spine
# =========================================================================


@register(
    "q_wow_growth",
    """WITH wk AS (
         SELECT event_type,
                (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS week_idx,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS wk_cents,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY event_type, week_idx
       )
       SELECT event_type, CAST(week_idx AS BIGINT) AS week_idx,
              wk_cents, n_events,
              lag(wk_cents) OVER (PARTITION BY event_type
                                  ORDER BY week_idx) AS prev_cents,
              CAST(floor((wk_cents - lag(wk_cents)
                          OVER (PARTITION BY event_type ORDER BY week_idx))
                         * 1000000.0
                         / lag(wk_cents) OVER (PARTITION BY event_type
                                               ORDER BY week_idx))
                   AS BIGINT) AS growth_ppm
       FROM wk""",
    "WEEK-OVER-WEEK revenue growth per event type — the canonical "
    "periodic-growth readout of every business dashboard. The week key "
    "is a PURE-INTEGER day count from a fixed anchor ((date - "
    "2024-01-01) div 7), deliberately NOT date_trunc('week'): ISO-week "
    "boundary conventions are a classic cross-engine drift point (the "
    "q_retention_cohorts de-risk finding), while integer day arithmetic "
    "is identical everywhere. Growth is one exact-BIGINT-pair double "
    "division floored to ppm (negative growth floors portably because "
    "both engines floor the identical double; no integer `div` on a "
    "possibly-negative numerator). Shape: one events scan -> "
    "(type, week) hash agg -> a lag window over the BOUNDED calendar "
    "domain (|types| x |weeks| rows, whatever the event count); "
    "the classic pre-aggregate-then-window shape.",
)
def q_wow_growth(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wk = (
        ev.select(
            "event_type",
            F.expr(
                "datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7"
            ).alias("week_idx"),
            cents(F.col("value")).alias("c"),
        )
        .groupBy("event_type", "week_idx")
        .agg(
            F.sum("c").alias("wk_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_idx")
    prev = F.lag("wk_cents").over(w)
    return wk.select(
        "event_type",
        F.col("week_idx").cast("long").alias("week_idx"),
        "wk_cents",
        "n_events",
        prev.alias("prev_cents"),
        F.floor(
            (F.col("wk_cents") - prev) * 1000000.0 / prev
        )
        .cast("long")
        .alias("growth_ppm"),
    )


# =========================================================================
# EWMA fast/slow crossover — trend-shift detection
# with EXACT dyadic decay weights
# =========================================================================


@register(
    "q_ewma_crossover",
    """WITH h AS (
         SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS hc
         FROM events GROUP BY 1
       ), b AS (
         SELECT date_trunc('hour', min(ts)) AS mn,
                date_trunc('hour', max(ts)) AS mx
         FROM events
       ), spine AS (
         SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
         FROM b
       ), s AS (
         SELECT sp.hour_ts, coalesce(h.hc, 0) AS hc
         FROM spine sp LEFT JOIN h USING (hour_ts)
       ), w AS (
         SELECT hour_ts,
                8 * hc
                + 4 * coalesce(lag(hc, 1) OVER (ORDER BY hour_ts), 0)
                + 2 * coalesce(lag(hc, 2) OVER (ORDER BY hour_ts), 0)
                + 1 * coalesce(lag(hc, 3) OVER (ORDER BY hour_ts), 0)
                    AS fast_w,
                128 * hc
                + 64 * coalesce(lag(hc, 1) OVER (ORDER BY hour_ts), 0)
                + 32 * coalesce(lag(hc, 2) OVER (ORDER BY hour_ts), 0)
                + 16 * coalesce(lag(hc, 3) OVER (ORDER BY hour_ts), 0)
                + 8 * coalesce(lag(hc, 4) OVER (ORDER BY hour_ts), 0)
                + 4 * coalesce(lag(hc, 5) OVER (ORDER BY hour_ts), 0)
                + 2 * coalesce(lag(hc, 6) OVER (ORDER BY hour_ts), 0)
                + 1 * coalesce(lag(hc, 7) OVER (ORDER BY hour_ts), 0)
                    AS slow_w
         FROM s
       ), g AS (
         SELECT hour_ts, fast_w, slow_w,
                17 * fast_w > slow_w AS golden,
                lag(17 * fast_w > slow_w) OVER (ORDER BY hour_ts)
                    AS prev_golden
         FROM w
       )
       SELECT hour_ts, CAST(fast_w AS BIGINT) AS fast_w,
              CAST(slow_w AS BIGINT) AS slow_w, golden
       FROM g WHERE prev_golden IS NOT NULL AND golden <> prev_golden""",
    "EWMA FAST/SLOW CROSSOVER detection on the hourly revenue series — "
    "the trend-shift signal (golden/death cross) behind every "
    "moving-average alerting rule. The decay is DYADIC (lambda = 1/2) "
    "over truncated 4-hour (fast) and 8-hour (slow) frames, so every "
    "weighted sum is an EXACT BIGINT (weights 8,4,2,1 / 128..1 — no "
    "float decay fold, no summation-order hazard), and the crossover "
    "test fast/15 > slow/255 reduces to the exact integer comparison "
    "17*fast > slow (255/15 = 17) — the whole operator is "
    "transcendental-free. The series is first gap-filled onto a dense "
    "hourly spine (q_gapfill_spine idiom) so lag offsets mean wall-clock "
    "hours, not sparse row offsets. Shape: one events scan -> hour-grain "
    "agg -> windows over the BOUNDED hour domain (~9k rows/year at any "
    "corpus size); emits only the crossover rows.",
)
def q_ewma_crossover(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.sum(cents(F.col("value"))).alias("hc"))
    # Two consumers (spine bounds + the fill join) of the ~720-row hour
    # frame: materialize once; bounds derive from the hour grain itself
    # (hour-truncated min/max ts == min/max hour_ts), so events are
    # scanned exactly once.
    hourly = hourly.localCheckpoint()
    bounds = hourly.agg(
        F.min("hour_ts").alias("mn"),
        F.max("hour_ts").alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        )
    )
    s = spine.join(F.broadcast(hourly), "hour_ts", "left").select(
        "hour_ts", F.coalesce("hc", F.lit(0)).alias("hc")
    )
    w = Window.orderBy("hour_ts")

    def lagged(k: int):
        return F.coalesce(F.lag("hc", k).over(w), F.lit(0))

    fast = sum((1 << (3 - k)) * lagged(k) for k in range(4))
    slow = sum((1 << (7 - k)) * lagged(k) for k in range(8))
    g = s.select(
        "hour_ts", fast.alias("fast_w"), slow.alias("slow_w")
    ).select(
        "hour_ts",
        "fast_w",
        "slow_w",
        (17 * F.col("fast_w") > F.col("slow_w")).alias("golden"),
        F.lag(17 * F.col("fast_w") > F.col("slow_w")).over(w).alias(
            "prev_golden"
        ),
    )
    return g.filter(
        F.col("prev_golden").isNotNull()
        & (F.col("golden") != F.col("prev_golden"))
    ).select(
        "hour_ts",
        F.col("fast_w").cast("long").alias("fast_w"),
        F.col("slow_w").cast("long").alias("slow_w"),
        "golden",
    )


# =========================================================================
# Herfindahl-Hirschman concentration index — market /
# load concentration per segment
# =========================================================================


@register(
    "q_hhi_concentration",
    """WITH pu AS (
         SELECT event_type, user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS c
         FROM events GROUP BY event_type, user_id
       ), g AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(c) AS BIGINT) AS tot,
                CAST(max(c) AS BIGINT) AS mx,
                sum(CAST(c AS HUGEINT) * c) AS sq
         FROM pu GROUP BY event_type
       )
       SELECT event_type, n_users,
              CAST(floor(sq::DOUBLE * 100000000.0
                         / (tot::DOUBLE * tot)) AS BIGINT) AS hhi_e8,
              (mx * 1000000) // tot AS top1_ppm,
              CAST(floor(tot::DOUBLE * tot / sq::DOUBLE * 100) AS BIGINT)
                  AS eff_users_e2
       FROM g""",
    "HERFINDAHL-HIRSCHMAN concentration index of revenue across users, "
    "per event type — the standard concentration diagnostic (market "
    "share, hot-key/load concentration, dataset-source dominance all "
    "use it): HHI = sum(share_i^2), plus the largest single share and "
    "the effective number of participants 1/HHI (the 'how many equal "
    "users would look like this' readout). Exactness: per-user cents "
    "and the sum-of-squares are EXACT integers (the squares widened to "
    "DECIMAL(38,0)/HUGEINT — a heavy user's cents^2 can overflow int64, "
    "the q_gini octave-probe lesson), and HHI is ONE double division of two exact moments, "
    "floored to e8. Shape: one events scan -> (type, user) hash agg -> "
    "|types|-row moment agg; every post-scan frame is key-domain-sized.",
)
def q_hhi_concentration(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents(F.col("value"))).alias("c")
    )
    g = pu.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("tot"),
        F.max("c").alias("mx"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("sq"),
    )
    sqd = F.col("sq").cast("double")
    totd = F.col("tot").cast("double")
    return g.select(
        "event_type",
        "n_users",
        F.floor(sqd * 100000000.0 / (totd * totd))
        .cast("long")
        .alias("hhi_e8"),
        F.expr("(mx * 1000000) div tot").alias("top1_ppm"),
        F.floor(totd * totd / sqd * 100).cast("long").alias("eff_users_e2"),
    )


# =========================================================================
# Single mean-shift changepoint — binary-segmentation
# step via exact prefix-sum cross-multiplication
# =========================================================================


@register(
    "q_changepoint_mean",
    """WITH h AS (
         SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS hc
         FROM events GROUP BY 1
       ), c AS (
         SELECT hour_ts, hc,
                CAST(sum(hc) OVER (ORDER BY hour_ts) AS BIGINT) AS sl,
                CAST(row_number() OVER (ORDER BY hour_ts) AS BIGINT) AS nl,
                CAST(sum(hc) OVER () AS BIGINT) AS s,
                CAST(count(*) OVER () AS BIGINT) AS n
         FROM h
       ), g AS (
         SELECT hour_ts, sl, nl, s, n,
                (sl * (n - nl) - (s - sl) * nl) AS d
         FROM c WHERE nl < n
       )
       SELECT hour_ts AS split_hour_ts,
              nl AS n_left, (n - nl) AS n_right,
              CAST(floor(sl::DOUBLE / nl * 10000) AS BIGINT)
                  AS mean_left_e4,
              CAST(floor((s - sl)::DOUBLE / (n - nl) * 10000) AS BIGINT)
                  AS mean_right_e4,
              CAST(floor(d::DOUBLE * d / (n::DOUBLE * nl * (n - nl))
                         * 10000) AS BIGINT) AS gain_e4
       FROM g
       ORDER BY d::DOUBLE * d / (n::DOUBLE * nl * (n - nl)) DESC,
                hour_ts
       LIMIT 1""",
    "SINGLE MEAN-SHIFT CHANGEPOINT over the hourly revenue series — the "
    "binary-segmentation step (the building block of every CP detector; "
    "q_cusum_drift localizes gradual drift, this localizes the sharpest "
    "level break): the split maximizing the between-segment SSE "
    "reduction gain(t) = (mean_L - mean_R)^2 * n_L n_R / n, computed "
    "WITHOUT any per-split rescan via prefix sums: the cross-multiplied "
    "numerator d = SL*(n-nl) - (S-SL)*nl is an EXACT BIGINT (prefix "
    "cents x hour counts stay far under 2^63 since the "
    "hour domain is bounded), and gain = d^2/(n*nl*(n-nl)) is one "
    "identical double tree per engine, so the argmax picks the same "
    "split everywhere (ties broken by hour). Shape: one events scan -> "
    "hour-grain agg -> cumulative windows over the BOUNDED hour domain "
    "-> TakeOrderedAndProject top-1.",
)
def q_changepoint_mean(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.sum(cents(F.col("value"))).alias("hc"))
    w_cum = Window.orderBy("hour_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "hour_ts",
        F.sum("hc").over(w_cum).alias("sl"),
        F.row_number().over(Window.orderBy("hour_ts"))
        .cast("long")
        .alias("nl"),
        F.sum("hc").over(w_all).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).filter(F.col("nl") < F.col("n"))
    d = F.col("sl") * (F.col("n") - F.col("nl")) - (
        F.col("s") - F.col("sl")
    ) * F.col("nl")
    gain = (
        d.cast("double")
        * d
        / (
            F.col("n").cast("double")
            * F.col("nl")
            * (F.col("n") - F.col("nl"))
        )
    )
    g = c.select(
        F.col("hour_ts").alias("split_hour_ts"),
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.floor(F.col("sl").cast("double") / F.col("nl") * 10000)
        .cast("long")
        .alias("mean_left_e4"),
        F.floor(
            (F.col("s") - F.col("sl")).cast("double")
            / (F.col("n") - F.col("nl"))
            * 10000
        )
        .cast("long")
        .alias("mean_right_e4"),
        gain.alias("__gain"),
        F.floor(gain * 10000).cast("long").alias("gain_e4"),
    )
    return (
        g.orderBy(F.desc("__gain"), F.asc("split_hour_ts"))
        .limit(1)
        .drop("__gain")
    )


# =========================================================================
# Goh-Barabasi burstiness index — per-user
# inter-arrival dispersion from exact integer microsecond moments
# =========================================================================


@register(
    "q_burstiness_index",
    """WITH d AS (
         SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS gap
         FROM events
       ), m AS (
         SELECT user_id,
                CAST(count(gap) AS BIGINT) AS n,
                CAST(sum(gap) AS BIGINT) AS s1,
                sum(CAST(gap AS HUGEINT) * gap) AS s2
         FROM d WHERE gap IS NOT NULL GROUP BY user_id
       ), v AS (
         SELECT user_id, n, s1,
                s1::DOUBLE / n AS mu,
                sqrt(greatest(s2::DOUBLE / n
                              - (s1::DOUBLE / n) * (s1::DOUBLE / n),
                              0.0)) AS sigma
         FROM m WHERE n >= 3
       )
       SELECT user_id, n AS n_gaps,
              CAST(floor(mu) AS BIGINT) AS mean_gap_us,
              CAST(floor((sigma - mu) / nullif(sigma + mu, 0.0) * 1000000)
                   AS BIGINT) AS burstiness_e6
       FROM v""",
    "GOH-BARABASI BURSTINESS INDEX B = (sigma - mu)/(sigma + mu) of "
    "per-user inter-arrival times — the standard point-process "
    "dispersion readout (B -> -1 periodic, 0 Poisson, +1 bursty; the "
    "per-user scalar that q_burst_detect's windowed alarm aggregates "
    "over). Gaps are EXACT integer microseconds from one lag window per "
    "user (total order (ts, event_id)); the moment sums are exact "
    "(sum-of-squares widened to DECIMAL(38,0)/HUGEINT — a 30-day gap "
    "squared is 7e24, past int64, the q_gini octave lesson applied at "
    "registration); sigma/mu/B derive through one identical double tree "
    "with a greatest(.,0) guard so variance~0 users cannot produce a "
    "cross-engine sqrt(-eps) divergence. Shape: one events scan -> "
    "per-user lag window -> per-user moment agg -> map; the window keys "
    "on user_id (many small partitions, no skew).",
)
def q_burstiness_index(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    d = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = d.groupBy("user_id").agg(
        F.count("gap").alias("n"),
        F.sum("gap").alias("s1"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).alias(
            "s2"
        ),
    ).filter(F.col("n") >= 3)
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
        )
    )
    v = m.select("user_id", "n", mu.alias("mu"), sigma.alias("sigma"))
    return v.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.floor(F.col("mu")).cast("long").alias("mean_gap_us"),
        F.floor(
            (F.col("sigma") - F.col("mu"))
            / F.nullif(F.col("sigma") + F.col("mu"), F.lit(0.0))
            * 1000000
        )
        .cast("long")
        .alias("burstiness_e6"),
    )


# =========================================================================
# Weekly acquisition curve — new vs returning users
# and the cumulative user base
# =========================================================================


@register(
    "q_new_users_weekly",
    """WITH uw AS (
         SELECT DISTINCT user_id,
                (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS week_idx
         FROM events
       ), fu AS (
         SELECT user_id, min(week_idx) AS first_week FROM uw
         GROUP BY user_id
       ), wk AS (
         SELECT uw.week_idx,
                CAST(count(*) AS BIGINT) AS active_users,
                CAST(count(*) FILTER (WHERE fu.first_week = uw.week_idx)
                     AS BIGINT) AS new_users
         FROM uw JOIN fu USING (user_id)
         GROUP BY uw.week_idx
       )
       SELECT CAST(week_idx AS BIGINT) AS week_idx, active_users,
              new_users,
              (active_users - new_users) AS returning_users,
              CAST(sum(new_users) OVER (ORDER BY week_idx) AS BIGINT)
                  AS cum_users
       FROM wk""",
    "WEEKLY ACQUISITION CURVE: active vs first-seen (new) vs returning "
    "users per week plus the cumulative user base — the growth-"
    "accounting readout that complements q_retention_cohorts (cohorts "
    "answer 'do they come back', this answers 'how fast does the base "
    "grow and how much of each week is new blood'). Week keys are the "
    "anchored integer day count (the q_wow_growth portability "
    "convention, NOT date_trunc('week')). Shape: one events scan -> "
    "(user, week) distinct -> per-user min agg joined back on user_id "
    "(hash join, millions of keys, no skew) -> week-domain agg + one "
    "cumulative window over |weeks| rows. All counts exact integers.",
)
def q_new_users_weekly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr(
            "datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7"
        ).alias("week_idx"),
    ).distinct()
    fu = uw.groupBy("user_id").agg(F.min("week_idx").alias("first_week"))
    wk = (
        uw.join(fu, "user_id")
        .groupBy("week_idx")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                (F.col("first_week") == F.col("week_idx")).cast("long")
            ).alias("new_users"),
        )
    )
    w_cum = Window.orderBy("week_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return wk.select(
        F.col("week_idx").cast("long").alias("week_idx"),
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias(
            "returning_users"
        ),
        F.sum("new_users").over(w_cum).alias("cum_users"),
    )


# =========================================================================
# WindowFunnel — max funnel depth over ANY anchor
# within a time window (the ClickHouse-semantics sequence matcher)
# =========================================================================


@register(
    "q_window_funnel",
    """WITH e AS (
         SELECT user_id, event_id, event_type,
                epoch_us(ts) AS t
         FROM events
         WHERE event_type IN ('view', 'click', 'purchase')
       ), w AS (
         SELECT user_id, event_id, event_type, t,
                max(CASE WHEN event_type = 'view' THEN t END)
                    OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS lv
         FROM e
       ), w2 AS (
         SELECT user_id, event_type, t, lv,
                max(CASE WHEN event_type = 'click' THEN lv END)
                    OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS anchor
         FROM w
       ), u AS (
         SELECT user_id,
                max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS l1,
                max(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                              AND t - lv <= 21600000000
                         THEN 1 ELSE 0 END) AS l2,
                max(CASE WHEN event_type = 'purchase'
                              AND anchor IS NOT NULL
                              AND t - anchor <= 21600000000
                         THEN 1 ELSE 0 END) AS l3
         FROM w2 GROUP BY user_id
       )
       SELECT CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(l1) AS BIGINT) AS l1_users,
              CAST(sum(l2) AS BIGINT) AS l2_users,
              CAST(sum(l3) AS BIGINT) AS l3_users,
              CAST((sum(l2) * 1000000) // nullif(sum(l1), 0) AS BIGINT)
                  AS conv_l2_ppm,
              CAST((sum(l3) * 1000000) // nullif(sum(l2), 0) AS BIGINT)
                  AS conv_l3_ppm,
              CAST((sum(l3) * 1000000) // nullif(sum(l1), 0) AS BIGINT)
                  AS full_funnel_ppm
       FROM u""",
    "windowFunnel (ClickHouse semantics): the maximum funnel depth "
    "view -> click -> purchase reachable through ANY anchor chain whose "
    "total span fits a 6-hour window — a user whose first view led "
    "nowhere but whose later view->click->purchase completed in-window "
    "still counts, which is exactly what separates this from "
    "q_funnel_steps' first-touch anchor (and the time bound separates "
    "both from unbounded sequence matching). The per-user DP needs no "
    "sequential fold: over the (ts, event_id) total order, the best "
    "level-2 witness at a click is the LATEST preceding view (running "
    "max), and the best level-3 witness at a purchase is the maximum "
    "over preceding clicks of THEIR latest-preceding-view anchor — two "
    "stacked running-max windows on ONE user_id shuffle turn the "
    "existential chain search into associative aggregates (the "
    "q_clamped_running_balance trick: a sequential-looking recurrence "
    "with a window-aggregate closed form). Exact integer microseconds "
    "throughout; summary is one |users|-domain agg. Shape: one events "
    "scan -> stacked windows on one shuffle -> per-user agg -> 1 row.",
)
def q_window_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    W = 21600000000  # 6 hours in microseconds
    t = F.unix_micros(F.col("ts"))
    e = ev.select("user_id", "event_id", "event_type", t.alias("t"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w1 = e.withColumn(
        "lv",
        F.max(
            F.when(F.col("event_type") == "view", F.col("t"))
        ).over(w_prev),
    )
    w2 = w1.withColumn(
        "anchor",
        F.max(
            F.when(F.col("event_type") == "click", F.col("lv"))
        ).over(w_prev),
    )
    u = w2.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "view").cast("long")
        ).alias("l1"),
        F.max(
            (
                (F.col("event_type") == "click")
                & F.col("lv").isNotNull()
                & (F.col("t") - F.col("lv") <= W)
            ).cast("long")
        ).alias("l2"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & F.col("anchor").isNotNull()
                & (F.col("t") - F.col("anchor") <= W)
            ).cast("long")
        ).alias("l3"),
    )
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("l1").alias("l1_users"),
        F.sum("l2").alias("l2_users"),
        F.sum("l3").alias("l3_users"),
    ).select(
        "n_users",
        "l1_users",
        "l2_users",
        "l3_users",
        F.expr("(l2_users * 1000000) div nullif(l1_users, 0)").alias(
            "conv_l2_ppm"
        ),
        F.expr("(l3_users * 1000000) div nullif(l2_users, 0)").alias(
            "conv_l3_ppm"
        ),
        F.expr("(l3_users * 1000000) div nullif(l1_users, 0)").alias(
            "full_funnel_ppm"
        ),
    )


# =========================================================================
# Multi-source BFS distances — the traversal member of the
# graph family (q_pagerank scores, q_triangle_count/q_degree_dist
# measure structure, q_dup_clusters finds components, this measures
# reachability depth)
# =========================================================================


@register(
    "q_bfs_distance",
    """WITH RECURSIVE e0 AS (
         SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         FROM lineitem
       ), edges AS (
         SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
       ), bfs(node, d) AS (
         SELECT * FROM (VALUES (2, 0), (4, 0), (6, 0)) t(node, d)
         UNION
         SELECT e.dst, b.d + 1
         FROM bfs b JOIN edges e ON e.src = b.node
         WHERE b.d < 3
       )
       SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
       FROM bfs GROUP BY node""",
    "MULTI-SOURCE BFS to depth 3 over the symmetrized part<->supplier "
    "co-purchase graph (same encoding as q_pagerank: parts 2k, "
    "suppliers 2k+1), seeds = parts 1-3 — the hop-distance feature "
    "behind influence radius, contamination spread, and "
    "collaborative-filter neighborhoods. Spark runs LEVEL-SYNCHRONOUS "
    "frontier expansion: per level ONE hash equi-join "
    "frontier><edges + distinct + one anti-join against the visited "
    "set, so a node's recorded level IS its minimum distance "
    "(first-discovery invariant) — exact integers, no floats, no "
    "tie-breaks needed. The oracle's recursive CTE dedups (node, d) "
    "pairs per level (UNION, not UNION ALL — path enumeration would "
    "be combinatorial) and takes min(d). Scale: iteration count is "
    "the FIXED depth bound (3), each level is edge-partitioned hash "
    "join work with map-side-combined distinct — the Pregel/"
    "large-star pattern (operators/graph.py) without the "
    "driver-unbounded loop; visited/frontier are localCheckpointed "
    "per level so lineage stays O(1), and the only driver sync is "
    "the loop counter itself.",
)
def q_bfs_distance(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    # Hash-partition the edge table on the join key BEFORE checkpointing
    # (the pagerank_int layout trick): LogicalRDD preserves
    # outputPartitioning, so each level's frontier join reuses the
    # edge-side layout and only the (tiny) frontier shuffles — the full
    # edge shuffle happens once instead of once per level (guide §2.4).
    edges = (
        e0.unionAll(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(F.col("src"))
        .localCheckpoint(eager=False)
    )

    seeds = spark.createDataFrame(
        [(2, 0), (4, 0), (6, 0)], "node long, dist long"
    )
    dist = seeds.localCheckpoint(eager=False)
    frontier = dist.select("node")
    for level in range(1, 4):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(level).cast("long"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return dist.select(F.col("node").cast("long").alias("node"), "dist")


# =========================================================================
# Dyadic inter-event gap histogram
# =========================================================================


@register(
    "q_gap_histogram",
    """WITH g AS (
         SELECT epoch_us(ts)
                - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS gap_us
         FROM events
       ), b AS (
         SELECT gap_us,
                CASE WHEN gap_us <= 0 THEN 0
                     ELSE length(bin(gap_us)) END AS bucket
         FROM g WHERE gap_us IS NOT NULL
       )
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_gaps,
              CAST(min(gap_us) AS BIGINT) AS min_gap_us,
              CAST(max(gap_us) AS BIGINT) AS max_gap_us
       FROM b GROUP BY bucket""",
    "DYADIC INTER-EVENT GAP HISTOGRAM: the distribution of per-user "
    "consecutive-event gaps in power-of-two microsecond buckets (bucket = "
    "floor(log2(gap))+1 computed EXACTLY as length(bin(gap)) — the "
    "binary-digit count is the engine-portable integer log2; no float "
    "log crosses an engine boundary), with per-bucket min/max as the "
    "bucket-edge sanity columns. The latency/recency histogram behind "
    "session-timeout selection (where does the gap distribution's "
    "bimodal valley sit — q_sessionize's 30-minute constant comes from "
    "exactly this read) and crawl-frequency tuning; q_burstiness_index "
    "reduces the same gaps to one moment ratio, this key keeps the "
    "shape. Shape: one user-partitioned lag window (the "
    "q_delta_varint_audit shuffle), then a ~35-cell hash agg — "
    "partial-first, bucket domain bounded by the 2^35 s ≈ 1000-year "
    "gap ceiling regardless of data volume.",
)
def q_gap_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer MICROSECONDS on both legs: DuckDB's epoch() is a
    # fractional DOUBLE (round-vs-truncate drift against Spark's
    # unix_timestamp seconds); unix_micros/epoch_us are both exact int64.
    g = ev.select(
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    b = g.select(
        "gap_us",
        F.when(F.col("gap_us") <= 0, F.lit(0))
        .otherwise(F.length(F.bin("gap_us")))
        .cast("long")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )
