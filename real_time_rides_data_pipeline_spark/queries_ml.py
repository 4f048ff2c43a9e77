"""Model-evaluation / feature-engineering surface.

Same registry contract as queries.py / queries_analytics.py (SURVEY.md
§2.9 scope — the operations a large-scale training-data pipeline needs
around model fitting and offline evaluation). Determinism rules
(SURVEY §7.4) throughout: exact integer cents / counts / scaled ranks,
floor (`div`) division only on non-negative operands, every ORDER BY
tied off by a total order, the only compared float-derived columns are
floor-truncated cosine scores whose pre-truncation doubles are
bit-identical across engines (the q_cosine_topk precedent).

What this module adds:

- ``q_linreg_fit`` — closed-form OLS per group via one-pass exact
  integer moments: the distributed "fit a trend line" primitive (normal equations, map-side combine; no iteration, no
  float drift — slope/intercept emitted as exact BIGINT rationals).
- ``q_auc_roc`` — exact ROC-AUC via the rank-sum (Mann-Whitney U)
  identity over distinct-score groups with tie handling; the offline
  binary-classifier eval at corpus scale without a global per-row sort.
- ``q_confusion_matrix`` — per-class TP/FP/FN + precision/recall/F1 in
  exact integer ppm from a two-level re-aggregation of the
  (actual, predicted) contingency table.
- ``q_score_lift`` — cumulative lift/gains table over equal-width score
  bands (band assignment is a pure map against a broadcast scalar max;
  the cumulative window runs over 10 band rows, not N data rows).
- ``q_rolling_median`` — EXACT rolling median over a 5-row event-time
  frame per user (collect_list window + sort_array + middle elements;
  emitted as median*2 so even frames stay integer).
- ``q_grid_join_radius`` — fixed-radius spatial self-join via grid-cell
  bucketing (9-cell neighbor expansion on one side, equi-join on cell,
  exact integer squared distance) — the O(N·density) alternative to the
  O(N²) distance cross join.
- ``q_feature_hash`` — the hashing-trick featurizer: tokens bucketed by
  an md5-derived 60-bit integer mod B, per-bucket corpus stats +
  dominant term (collision inspection), engine-portable because md5 is.
- ``q_knn_classify`` — k-NN holdout classification: a small fixed query
  set broadcast against the train corpus, per-query top-5 by
  floor-truncated cosine, majority vote with total-order tie-breaks.
  Scan-once-over-N (scalable in N; the IVF path q_ann_ivf is the
  large-|Q| answer).
- ``q_stream_linreg`` — STREAMING OLS: per-micro-batch moment partials
  folded through the idempotent additive parquet MERGE into a stats
  table whose solved fit is bit-identical to the batch fit (same
  oracle) — continuously-updated model fitting without refit scans.
- ``q_bpe_train`` — full iterative BPE tokenizer training (4 merge
  rounds, one bounded driver argmax per round, JVM-fold merge rewrite)
  — operators/bpe.py; pinned against a pure-python reference.
- ``q_retrieval_mrr`` — MRR@10 retrieval eval over the kNN holdout
  (first same-label neighbor rank, reciprocal rank in exact ppm).
- ``q_rfm_segments`` — RFM quintile segmentation via the scale-safe
  global ntile (range-partitioned rank, no single-partition sort).
- ``q_ldiversity`` — l-diversity privacy audit (distinct sensitive
  values per quasi-identifier group) — the other half of the
  ``q_kanon_suppress`` release gate.
- ``q_dedup_report`` — per-source dedup-rate observability report
  (duplicate fraction in ppm, bytes reclaimed) over the exact-dup corpus.
- ``q_target_encode`` — smoothed (m-estimate) target encoding of a
  categorical feature in exact integer ppm — the category featurizer.
- ``q_calibration_bins`` — reliability table (mean predicted score vs
  realized rate per decile bin, exact ppm) — the ECE-style calibration
  eval next to ``q_auc_roc``'s ranking eval.
- ``q_pca_project`` — top-2 principal directions via a DISTRIBUTED
  gramian (mapInArrow partial X'X per Arrow batch → element-wise sum →
  64×64 eigh on the driver → components folded back as literals) and
  the projection of every vector onto them. The classic
  fit-small/broadcast-big shape for embedding dim-reduction.
  Eigendecomposition is not SQL-expressible → rows-only driver check;
  exactness vs numpy PCA is pinned in tests/test_ml.py.
- ``q_ndcg_at10`` — graded-ranking retrieval eval (NDCG@10) over the
  shared kNN holdout, discount weights as a literal scaled-integer
  table (log2 is irrational; the floor table is the portable contract).
- ``q_pr_auc`` — step-wise average precision over the distinct-score
  domain, the imbalanced-class companion to q_auc_roc.
- ``q_brier_score`` — calibration-sensitive MSE of max-normalized ppm
  scores vs outcomes, exact 1e-12 units.
- ``q_cohens_kappa`` — chance-corrected agreement as an exact rational
  over the q_confusion_matrix contingency table, sign-explicit ppm.
- ``q_group_kfold`` — leakage-free-by-construction user-level CV fold
  assignment (portable md5 bucketing) + per-fold balance report.
- ``q_tscv_splits`` — expanding-window time-series CV boundaries and
  train/valid counts from a single banding scan + 5-row histogram.
- ``q_mcc`` — signed squared Matthews correlation in exact ppm over the
  binarized contingency table (DECIMAL-widened scalar math; the probe's
  f8 factor caught the BIGINT draft with a loud ANSI overflow).
- ``q_cv_ols`` — leave-one-fold-out OLS: group-k-fold assignment +
  additive moments run in reverse (train = totals − fold), 5-fold CV
  fits from ONE data scan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.functions.vectors import as_double
from real_time_rides_data_pipeline_spark.operators.clean import KNUTH_MULT
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.streaming.replay import (
    replay_stream,
    run_to_completion,
)

# =========================================================================
# Closed-form OLS via exact integer moments
# =========================================================================


_LINREG_ORACLE = """WITH m AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS sx,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
                CAST(sum(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                         * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS sxx,
                CAST(sum(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxy
         FROM events GROUP BY event_type)
       SELECT event_type, n,
              n * sxy - sx * sy AS slope_num,
              n * sxx - sx * sx AS slope_den,
              sy * sxx - sx * sxy AS icept_num
       FROM m"""


@register(
    "q_linreg_fit",
    _LINREG_ORACLE,
    "Per-group closed-form OLS (cents-value on hour-of-day) from ONE pass "
    "of exact integer moments (n, Σx, Σy, Σx², Σxy): slope = slope_num/"
    "slope_den and intercept = icept_num/slope_den as exact BIGINT "
    "rationals — no float ever appears, so two engines agree bit-for-bit. "
    "Shape: map-side partial agg into 5 groups; no window, no second pass. "
    "int64 is exact at every tested SF and overflow would fail loudly, "
    "never silently; past that the moments widen to DECIMAL(38,0) (or x "
    "is mean-centered per group in a cheap 2-pass).",
)
def q_linreg_fit(spark, sf_dir):
    return _linreg_solve(_linreg_moments(_t(spark, sf_dir, "events")))


def _linreg_moments(ev):
    """Per-group OLS sufficient statistics (n, Σx, Σy, Σx², Σxy) — exact
    BIGINTs, and ADDITIVE: partials from disjoint row sets merge by cell-wise
    sum, which is what makes the streaming twin (q_stream_linreg) exact."""
    x = F.hour("ts").cast("long")
    y = cents(F.col("value"))
    return (
        ev.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )


def _linreg_solve(m):
    """Closed-form slope/intercept as exact BIGINT rationals from moments."""
    return m.select(
        "event_type",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("slope_den"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias("icept_num"),
    )


@register(
    "q_stream_linreg",
    _LINREG_ORACLE,
    "STREAMING model fitting via mergeable sufficient statistics — the "
    "live demonstration that q_linreg_fit's moments are ADDITIVE: events "
    "replay as a REAL 2-micro-batch stream, each batch aggregates its "
    "per-group moment PARTIALS (n, Σx, Σy, Σx², Σxy — one map-side-"
    "combining agg over the batch), and foreachBatch folds them into a "
    "parquet stats table by cell-wise addition "
    "(sinks.merge_distributive_parquet — batch_id-marked idempotent under "
    "at-least-once redelivery, crash-ordered swap). Integer moments add "
    "exactly, so the merged fit is BIT-IDENTICAL to the batch fit and "
    "answers to the SAME oracle: per-shard/per-day "
    "moment tables merged into a continuously-updated model — no refit "
    "scan.",
)
def q_stream_linreg(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    stream, run_dir = replay_stream(
        spark, "linregstream", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=8
    )
    state, ckpt = f"{run_dir}/moments", f"{run_dir}/ckpt"

    def fold(batch_df, batch_id: int) -> None:
        merge_distributive_parquet(
            batch_df.sparkSession,
            _linreg_moments(batch_df),
            state,
            keys=("event_type",),
            agg_spec=dict.fromkeys(("n", "sx", "sy", "sxx", "sxy"), "sum"),
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))
    return _linreg_solve(spark.read.parquet(state))


# =========================================================================
# Exact ROC-AUC via the rank-sum identity
# =========================================================================


@register(
    "q_auc_roc",
    """WITH s AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS sc,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p,
                CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT) AS q
         FROM events GROUP BY sc
       ), c AS (
         SELECT p, q,
                COALESCE(sum(q) OVER (ORDER BY sc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
         FROM s)
       SELECT CAST(sum(p) AS BIGINT) AS n_pos,
              CAST(sum(q) AS BIGINT) AS n_neg,
              CAST(sum(p * (2 * nb + q)) AS BIGINT) AS auc_num2,
              CAST(2 * sum(p) * sum(q) AS BIGINT) AS auc_den2,
              CAST(sum(p * (2 * nb + q)) * 1000000
                   // (2 * sum(p) * sum(q)) AS BIGINT) AS auc_ppm
       FROM c""",
    # DuckDB's sums widen to HUGEINT, so the oracle is exact at any SF; the
    # Spark side widens the ppm arithmetic to DECIMAL(38,0) (quotient ≤ 1e6
    # always fits the BIGINT result). The num2/den2 ATTESTATION columns are
    # BIGINT-exact to ~3e9 rows per class — far past any fixture — and fail
    # loudly (ANSI overflow), never silently, beyond that.
    "Exact ROC-AUC (label = purchase, score = cents value) via the Mann-"
    "Whitney rank-sum identity computed over DISTINCT-SCORE groups: "
    "2U = Σ_s pos(s)·(2·neg_below(s) + neg(s)) handles ties exactly, and "
    "auc = U / (P·N) is emitted as an exact num/den pair plus integer ppm. "
    "Shape: one hash agg compresses N rows to |distinct scores| (bounded "
    "by the 2-dp value domain, ≤ ~5e6 rows at ANY data size), then the "
    "cumulative window runs over that bounded set — never a global per-row "
    "sort. The standard large-scale AUC shape.",
)
def q_auc_roc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    s = (
        ev.select(cents(F.col("value")).alias("sc"), pos.alias("is_pos"))
        .groupBy("sc")
        .agg(F.sum("is_pos").alias("p"), F.count("*").alias("cnt"))
        .select("sc", "p", (F.col("cnt") - F.col("p")).alias("q"))
    )
    # Single-partition window over DISTINCT SCORES only (bounded domain —
    # see docstring); never over raw rows.
    w = Window.orderBy("sc").rowsBetween(Window.unboundedPreceding, -1)
    c = s.select(
        "p", "q", F.coalesce(F.sum("q").over(w), F.lit(0)).alias("nb")
    )
    agg = c.agg(
        F.sum("p").alias("n_pos"),
        F.sum("q").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("nb") + F.col("q"))).alias("auc_num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        (2 * F.col("n_pos") * F.col("n_neg")).alias("auc_den2"),
        # DECIMAL(38,0) operands: the num*1e6 product would wrap int64 past
        # ~7.6e6 events; the integral quotient is ≤ 1e6 so the BIGINT result
        # of `div` is always exact.
        F.expr(
            "(CAST(auc_num2 AS DECIMAL(38,0)) * 1000000)"
            " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
        ).alias("auc_ppm"),
    )


# =========================================================================
# Confusion matrix + per-class precision/recall/F1
# =========================================================================

_CM_PRED_SQL = (
    "CAST((label + CASE WHEN ((vec_id % 97) * (2654435761 % 97)) % 97 < 10 "
    "THEN 1 ELSE 0 END) % 10 AS BIGINT)"
)


@register(
    "q_confusion_matrix",
    f"""WITH scored AS (
         SELECT CAST(label AS BIGINT) AS actual, {_CM_PRED_SQL} AS predicted
         FROM embeddings
       ), cm AS (
         SELECT actual, predicted, CAST(count(*) AS BIGINT) AS cnt
         FROM scored GROUP BY actual, predicted
       ), act AS (SELECT actual AS cls, CAST(sum(cnt) AS BIGINT) AS act_total
                  FROM cm GROUP BY actual),
       prd AS (SELECT predicted AS cls, CAST(sum(cnt) AS BIGINT) AS pred_total
               FROM cm GROUP BY predicted),
       tp AS (SELECT actual AS cls, CAST(sum(cnt) AS BIGINT) AS tp
              FROM cm WHERE actual = predicted GROUP BY actual)
       SELECT cls,
              COALESCE(tp.tp, 0) AS tp,
              COALESCE(prd.pred_total, 0) - COALESCE(tp.tp, 0) AS fp,
              COALESCE(act.act_total, 0) - COALESCE(tp.tp, 0) AS fn,
              CASE WHEN COALESCE(prd.pred_total, 0) = 0 THEN NULL
                   ELSE COALESCE(tp.tp, 0) * 1000000 // prd.pred_total
              END AS precision_ppm,
              CASE WHEN COALESCE(act.act_total, 0) = 0 THEN NULL
                   ELSE COALESCE(tp.tp, 0) * 1000000 // act.act_total
              END AS recall_ppm,
              CASE WHEN COALESCE(prd.pred_total, 0) + COALESCE(act.act_total, 0) = 0
                   THEN NULL
                   ELSE 2 * COALESCE(tp.tp, 0) * 1000000
                        // (COALESCE(prd.pred_total, 0) + COALESCE(act.act_total, 0))
              END AS f1_ppm
       FROM act FULL JOIN prd USING (cls) LEFT JOIN tp USING (cls)""",
    "Per-class confusion-matrix metrics from a deterministic synthetic "
    "predictor (label perturbed on a ~10% modular-hash slice — a stand-in "
    "for a scored eval table): TP/FP/FN plus precision/recall/F1 in exact "
    "integer ppm. Shape: ONE contingency aggregation of N rows to ≤ C² "
    "cells, then all re-aggs and the class full-join run on the tiny cell "
    "table — N is touched exactly once.",
)
def q_confusion_matrix(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    h = F.pmod(F.pmod(F.col("vec_id"), 97) * F.lit(KNUTH_MULT % 97), F.lit(97))
    predicted = F.pmod(
        F.col("label") + F.when(h < 10, 1).otherwise(0), F.lit(10)
    ).cast("long")
    cm = (
        emb.select(F.col("label").cast("long").alias("actual"), predicted.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("cnt"))
    )
    act = cm.groupBy(F.col("actual").alias("cls")).agg(F.sum("cnt").alias("act_total"))
    prd = cm.groupBy(F.col("predicted").alias("cls")).agg(F.sum("cnt").alias("pred_total"))
    tp = (
        cm.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("cnt").alias("tp"))
    )
    j = (
        act.join(prd, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("pred_total", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fp"),
            (F.coalesce("act_total", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fn"),
            F.coalesce("pred_total", F.lit(0)).alias("pt"),
            F.coalesce("act_total", F.lit(0)).alias("at"),
        )
    )
    return j.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.when(F.col("pt") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(tp * 1000000) div pt"))
        .alias("precision_ppm"),
        F.when(F.col("at") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(tp * 1000000) div `at`"))
        .alias("recall_ppm"),
        F.when(F.col("pt") + F.col("at") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(2 * tp * 1000000) div (pt + `at`)"))
        .alias("f1_ppm"),
    )


# =========================================================================
# Cumulative lift / gains table over equal-width score bands
# =========================================================================


@register(
    "q_score_lift",
    """WITH mx AS (SELECT max(CAST(round(value * 100) AS BIGINT)) AS mc FROM events),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                      CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS pp
               FROM events),
       b AS (
         SELECT LEAST(9, CAST(round(value * 100) AS BIGINT) * 10 // (mx.mc + 1)) AS band,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS pos
         FROM events, mx GROUP BY band
       ), c AS (
         SELECT band, n, pos,
                CAST(sum(n) OVER (ORDER BY band DESC) AS BIGINT) AS cum_n,
                CAST(sum(pos) OVER (ORDER BY band DESC) AS BIGINT) AS cum_pos
         FROM b)
       SELECT band, n, pos, cum_n, cum_pos,
              CAST(cum_pos * nn * 1000000 // (cum_n * pp) AS BIGINT) AS lift_ppm
       FROM c, tot""",
    "Cumulative lift/gains table (the 'target the top score bands' model "
    "eval): 10 equal-width cents bands, per-band counts, and the running "
    "lift (cum_pos/cum_n)/(P/N) in exact integer ppm scanning bands from "
    "best down. Shape: band assignment is a pure map against one broadcast "
    "scalar (max score), one hash agg to 10 rows, and the cumulative "
    "window runs over those 10 rows — N rows are scanned once, nothing "
    "data-proportional is sorted or windowed.",
)
def q_score_lift(spark, sf_dir):
    # ONE scan: compress N rows to the bounded distinct-cents domain first
    # (the q_auc_roc shape); max/totals are then windows over the compressed
    # tables (≤ score-domain rows / 10 band rows), never a second scan.
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    sc = (
        ev.select(cents(F.col("value")).alias("sc"), pos.alias("p"))
        .groupBy("sc")
        .agg(F.count("*").alias("n"), F.sum("p").alias("pos"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    banded = sc.withColumn("mc", F.max("sc").over(w_all)).select(
        F.least(F.lit(9).cast("long"), F.expr("(sc * 10) div (mc + 1)")).alias("band"),
        "n",
        "pos",
    )
    b = banded.groupBy("band").agg(
        F.sum("n").alias("n"), F.sum("pos").alias("pos")
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = b.select(
        "band",
        "n",
        "pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("n").over(w_all).alias("nn"),
        F.sum("pos").over(w_all).alias("pp"),
    )
    return cum.select(
        "band",
        "n",
        "pos",
        "cum_n",
        "cum_pos",
        # DECIMAL(38,0): cum_pos·nn·1e6 wraps int64 past ~7.6e6 events; the
        # quotient (lift in ppm) stays far inside BIGINT.
        F.expr(
            "(CAST(cum_pos AS DECIMAL(38,0)) * nn * 1000000)"
            " div (CAST(cum_n AS DECIMAL(38,0)) * pp)"
        ).alias("lift_ppm"),
    )


# =========================================================================
# Exact rolling median over a bounded row frame
# =========================================================================


@register(
    "q_rolling_median",
    """SELECT event_id, user_id,
              CAST(count(*) OVER w AS BIGINT) AS n_win,
              CAST(round(2 * median(CAST(round(value * 100) AS BIGINT)) OVER w)
                   AS BIGINT) AS median_x2
       FROM events WHERE event_type = 'purchase'
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    "EXACT rolling median of cents spend over each user's last 5 purchase "
    "events (event-time order, total-ordered by (ts, event_id)). Emitted "
    "as median*2 so even frames (mean of the two middle values) stay "
    "integer-exact. Shape: one shuffle on user_id, per-user sort, and a "
    "BOUNDED 5-row frame materialized via collect_list+sort_array — state "
    "per row is O(frame), never O(history); the robust-smoothing primitive "
    "for per-entity telemetry at scale.",
)
def q_rolling_median(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.sort_array(F.collect_list(cents(F.col("value"))).over(w))
    sized = ev.select(
        "event_id",
        "user_id",
        F.size(arr).cast("long").alias("n_win"),
        arr.alias("frame"),
    )
    n = F.col("n_win")
    odd = 2 * F.element_at("frame", ((n + 1) / 2).cast("int"))
    even = F.element_at("frame", (n / 2).cast("int")) + F.element_at(
        "frame", (n / 2 + 1).cast("int")
    )
    return sized.select(
        "event_id",
        "user_id",
        "n_win",
        F.when(n % 2 == 1, odd).otherwise(even).cast("long").alias("median_x2"),
    )


# =========================================================================
# Fixed-radius spatial self-join via grid-cell bucketing
# =========================================================================

_GRID_PTS_SQL = f"""SELECT o_orderkey AS pid,
           ((o_orderkey % 1009) * ({KNUTH_MULT} % 1009)) % 1009 AS x,
           ((o_custkey % 1013) * ({KNUTH_MULT} % 1013)) % 1013 AS y
    FROM orders WHERE o_orderkey % 23 = 0"""


@register(
    "q_grid_join_radius",
    f"""WITH pts AS ({_GRID_PTS_SQL})
       SELECT a.pid AS id_a, b.pid AS id_b,
              (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
       FROM pts a JOIN pts b
         ON a.pid < b.pid
        AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1024""",
    "Fixed-radius (r=32) spatial self-join over deterministic planar "
    "points: Spark buckets points into r-sized grid cells, expands ONE "
    "side to its 9 neighbor cells, equi-joins on cell, and verifies with "
    "exact integer squared distance (pairs canonical via id_a < id_b; "
    "cell width = r guarantees every qualifying pair lands in exactly one "
    "expanded/native cell combination). O(N·local density) work vs the "
    "oracle's O(N²) cross join — the geo/embedding blocking shape; "
    "skewed cells are handled by the same salting "
    "machinery as any hot join key.",
)
def q_grid_join_radius(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pts = o.filter(F.col("o_orderkey") % 23 == 0).select(
        F.col("o_orderkey").alias("pid"),
        (F.pmod(F.col("o_orderkey"), 1009) * F.lit(KNUTH_MULT % 1009) % 1009).alias("x"),
        (F.pmod(F.col("o_custkey"), 1013) * F.lit(KNUTH_MULT % 1013) % 1013).alias("y"),
    )
    radius = 32
    cells = pts.select(
        "pid", "x", "y",
        F.expr(f"x div {radius}").alias("cx"),
        F.expr(f"y div {radius}").alias("cy"),
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (
        cells.withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            F.col("pid").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    right = cells.select(
        F.col("pid").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        left.join(right, ["cx", "cy"])
        .filter((F.col("id_a") < F.col("id_b")) & (d2 <= radius * radius))
        .select("id_a", "id_b", d2.alias("dist2"))
    )


# =========================================================================
# Hashing-trick featurizer (corpus-level bucket stats)
# =========================================================================


@register(
    "q_feature_hash",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         FROM documents
       ), tb AS (
         SELECT term,
                ('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS bucket,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
         FROM tok GROUP BY term
       )
       SELECT bucket,
              CAST(sum(cnt) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS n_terms,
              max(docs) AS max_term_docs,
              first(term ORDER BY cnt DESC, term ASC) AS top_term,
              max(cnt) AS top_cnt
       FROM tb GROUP BY bucket""",
    "Hashing-trick featurizer audit: every token maps to bucket = "
    "md5-60-bit-int mod 64 (engine-portable — xxhash64/hash are Spark-"
    "specific), then per-bucket corpus stats: token mass, distinct terms "
    "(collision count), the dominant term and its count. Shape: tokenize "
    "(pure map) → (term) hash agg → (bucket) re-agg over the small term "
    "table; the fixed-width feature space is what makes downstream linear "
    "models shuffle-free.",
)
def q_feature_hash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long"), F.lit(64)
    )
    tb = tok.groupBy("term").agg(
        F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("docs")
    ).select("term", bucket.alias("bucket"), "cnt", "docs")
    # Single-pass bucket rollup: the (cnt DESC, term ASC) dominant term is a
    # min_by on the (-cnt, term) struct — no window, no second term-table
    # scan, one tiny 64-row result.
    return tb.groupBy("bucket").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_terms"),
        F.max("docs").alias("max_term_docs"),
        F.min_by("term", F.struct((-F.col("cnt")).alias("nc"), "term")).alias(
            "top_term"
        ),
        F.max("cnt").alias("top_cnt"),
    )


# =========================================================================
# k-NN holdout classification (broadcast query set, scan-once train side)
# =========================================================================

_KNN_COS_SQL = (
    "list_reduce(list_transform(range(len(t.embedding)), "
    "i -> t.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE), (x,y) -> x+y) "
    "/ (sqrt(list_reduce(list_transform(t.embedding, x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y)) "
    "* sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y)))"
)


def _knn_pairs(emb):
    """Shared holdout-pair construction for q_knn_classify / q_retrieval_mrr:
    the 5% query slice (vec_id % 20 = 0) broadcast against the train rest,
    cosine floor-truncated to integer µ-units, (sim DESC, tid ASC) is the
    downstream ranking total order. One definition so the classifier and its
    retrieval eval can never drift apart."""
    from real_time_rides_data_pipeline_spark.functions.vectors import dot, norm

    # Per-ROW norms precomputed once (|T| + |Q| reductions), so each of the
    # |T|·|Q| pairs pays a single dot product. The arithmetic shape
    # dot / (tn * qn) is IDENTICAL to cosine()'s dot/(norm·norm) — same
    # inputs, same op order — so the floor-truncated µ-units stay bitwise
    # equal to the DuckDB oracle (the q_cosine_topk determinism argument).
    q = emb.filter(F.pmod(F.col("vec_id"), 20) == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").cast("long").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    t = emb.filter(F.pmod(F.col("vec_id"), 20) != 0).select(
        F.col("vec_id").alias("tid"),
        F.col("label").cast("long").alias("tlabel"),
        as_double(F.col("embedding")).alias("tv"),
    ).withColumn("tn", norm(F.col("tv")))
    sim_e6 = F.floor(
        dot(F.col("tv"), F.col("qv")) / (F.col("tn") * F.col("qn")) * 1000000
    ).cast("long")
    pairs = t.crossJoin(F.broadcast(q)).select(
        "qid", "qlabel", "tid", "tlabel", sim_e6.alias("sim_e6")
    )
    w_top = Window.partitionBy("qid").orderBy(
        F.col("sim_e6").desc(), F.col("tid").asc()
    )
    return q, pairs, w_top


@register(
    "q_knn_classify",
    f"""WITH pairs AS (
         SELECT q.vec_id AS qid, t.vec_id AS tid, t.label,
                CAST(floor(({_KNN_COS_SQL}) * 1000000) AS BIGINT) AS sim_e6
         FROM embeddings q JOIN embeddings t
           ON q.vec_id % 20 = 0 AND t.vec_id % 20 <> 0
       ), top AS (
         SELECT qid, label FROM (
           SELECT qid, label,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim_e6 DESC, tid ASC) AS rn
           FROM pairs) WHERE rn <= 5
       ), votes AS (
         SELECT qid, CAST(label AS BIGINT) AS pred_label,
                CAST(count(*) AS BIGINT) AS votes
         FROM top GROUP BY qid, label)
       SELECT qid, pred_label, votes FROM (
         SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY votes DESC, pred_label ASC) AS rk
         FROM votes) WHERE rk = 1""",
    "k-NN holdout classification: the 5% query slice (vec_id % 20 = 0) is "
    "BROADCAST against the train corpus, each train row scores |Q| cosines "
    "(floor-truncated to integer µ-units — q_cosine_topk's cross-engine-"
    "stable pattern), per-query top-5 by (sim, tid), majority vote with "
    "(votes DESC, label ASC) tie-break. Shape: ONE scan of the train side, "
    "no train-side shuffle before the per-qid top-k — scalable in N for a "
    "fixed query set; large |Q| routes through the IVF index (q_ann_ivf).",
)
def q_knn_classify(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    _, pairs, w_top = _knn_pairs(emb)
    top = pairs.withColumn("rn", F.row_number().over(w_top)).filter(F.col("rn") <= 5)
    votes = top.groupBy("qid", F.col("tlabel").alias("pred_label")).agg(
        F.count("*").alias("votes")
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w_vote))
        .filter(F.col("rk") == 1)
        .select("qid", "pred_label", "votes")
    )


# =========================================================================
# BPE tokenizer training (iterative fit loop)
# =========================================================================


#: Merge rounds of the BPE fit, shared by the Spark leg and its oracle.
BPE_MERGES = 4


def _bpe_oracle_sql(mode: str = "train") -> str:
    """DuckDB twin of the FULL 4-round BPE training loop — what makes
    q_bpe_train value-checked instead of rows-only.

    The iterative fit unrolls into one static SQL expression because the
    round count is a fixed literal: each round is (pairs → argmax with the
    lexicographic tie-break → greedy merge). The greedy left-to-right
    non-overlapping merge — the part that looks non-relational — is a
    ``list_reduce`` left fold over the token list into a chr(31)-delimited
    STRING accumulator: the accumulator ends with sep||l exactly when the
    previous token equals l (tokens never contain the separator), which is
    precisely operators/bpe.py merge_pair's last(acc)==l test. All
    frequencies are integer sums, the tie-break is binary-collation
    lexicographic on both engines, so the merge table hash-matches.

    ``mode='train'`` emits the merge table (q_bpe_train); ``mode='encode'``
    applies the final segmentation back to every document — word →
    token-count from the trained segmentation, per-doc sums (q_bpe_encode).

    Degenerate corpora (a round with no adjacent pairs anywhere, e.g. all
    words single-char): ``b{k}`` is empty, Spark's ``train_bpe`` breaks
    early and applies fewer merges. The merge step here LEFT-JOINs the
    1-row ``b{k}`` and no-ops when it is empty, so ``seg{k}`` degrades to
    ``seg{k-1}`` instead of collapsing every later seg to zero rows —
    train mode emits the same (shorter) merge table either way, and
    encode mode carries every word through to the per-doc sums (pinned
    on an all-single-char corpus in tests/test_properties.py).
    """
    sep = "chr(31)"
    parts = [
        f"""WITH words AS (
         SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
               FROM documents)
         WHERE length(word) > 0 GROUP BY word
       ), seg0 AS (
         SELECT word, n, {sep} || array_to_string(
             list_transform(range(1, length(word) + 1), i -> word[i]),
             {sep}) AS s
         FROM words
       )"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f""", p{k} AS (
         SELECT pr[1] AS l, pr[2] AS r, CAST(sum(n) AS BIGINT) AS freq
         FROM (SELECT n, unnest(list_transform(range(2, len(toks)),
                        i -> [toks[i], toks[i + 1]])) AS pr
               FROM (SELECT n, string_split(s, {sep}) AS toks
                     FROM seg{k - 1}))
         GROUP BY pr[1], pr[2]
       ), b{k} AS (
         SELECT l, r, freq FROM p{k} ORDER BY freq DESC, l ASC, r ASC LIMIT 1
       ), seg{k} AS (
         -- LEFT JOIN the 1-row merge table: when round {k} found no
         -- adjacent pairs (b{k} empty — degenerate all-single-char
         -- corpora), the merge step degrades to a no-op so seg{k} =
         -- seg{k - 1} instead of collapsing to zero rows, matching the
         -- Spark leg's train_bpe early break.
         SELECT word, n, CASE WHEN b.l IS NULL THEN s
           ELSE list_reduce(string_split(s, {sep}),
           (acc, x) -> CASE WHEN ends_with(acc, {sep} || b.l) AND x = b.r
                       THEN substr(acc, 1, length(acc) - length(b.l))
                            || b.l || b.r
                       ELSE acc || {sep} || x END) END AS s
         FROM seg{k - 1} LEFT JOIN b{k} b ON TRUE
       )"""
        )
    if mode == "encode":
        tail = f""", enc AS (
         SELECT word, CAST(len(string_split(s, {sep})) - 1 AS BIGINT)
                    AS n_tok
         FROM seg{BPE_MERGES}
       ), dw AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+'))
                    AS word
         FROM documents
       )
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(e.n_tok) AS BIGINT) AS n_bpe_tokens
       FROM dw JOIN enc e USING (word)
       WHERE length(word) > 0
       GROUP BY doc_id"""
        return "".join(parts) + tail
    sel = "\n       UNION ALL ".join(
        f"""SELECT CAST({k} AS INTEGER) AS step, l AS "left", r AS "right",
              l || r AS merged, freq FROM b{k}"""
        for k in range(1, BPE_MERGES + 1)
    )
    return "".join(parts) + "\n       " + sel


def _fit_bpe_merges(words):
    """BPE merge-table fit — deterministic pure function of the corpus.
    Refit on EVERY call: no module-level memo of data-derived results —
    each bench/oracle invocation computes from the parquet inputs."""
    from real_time_rides_data_pipeline_spark.operators.bpe import train_bpe

    return train_bpe(words, n_merges=BPE_MERGES)


@register(
    "q_bpe_train",
    _bpe_oracle_sql(),  # VALUE-CHECKED: the fixed round
    # count unrolls the training loop into static SQL (see
    # _bpe_oracle_sql); exact equality with a pure-python BPE reference
    # is additionally pinned in tests/test_ml.py.
    "Full BPE tokenizer training (Sennrich et al. 2016), 4 merge rounds "
    "over the weighted distinct-word table: per round ONE distributed "
    "pair-frequency aggregation + a single-row driver argmax, with the "
    "chosen merge folded back into the next round's plan as literals and "
    "applied as a pure-JVM greedy left-to-right array fold "
    "(operators/bpe.py — no Python in the rewrite path, all-integer "
    "frequencies). Complements q_bpe_pairs (one counting round). Scale: "
    "each round's cost is driven by the DISTINCT-WORD table, not corpus "
    "size; the word table is checkpointed once and each round "
    "is a bounded agg — the fit-small/broadcast-big loop, same contract "
    "as the k-means and PCA fits.",
)
def q_bpe_train(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    words = (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    merges = _fit_bpe_merges(words)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, freq long"
    )


@register(
    "q_bpe_encode",
    _bpe_oracle_sql(mode="encode"),
    "Apply the TRAINED BPE tokenizer back to the corpus — the encode/"
    "inference half of the tokenizer lifecycle (q_bpe_train owns the "
    "fit): the 4 learned merges are folded over every DISTINCT word's "
    "character segmentation (operators/bpe.py merge_pair, the pure-JVM "
    "greedy left-to-right array fold), giving a word → token-count map; "
    "per-doc BPE token counts are then ONE explode + equi-join on the "
    "word + per-doc sum. VALUE-CHECKED end to end: the oracle unrolls "
    "the same training (the q_bpe_train SQL) and carries each word's "
    "final segmentation to the same per-doc sums — so fit AND apply "
    "hash-match together, pinning exactly what q_tokenizer_fertility "
    "measures for a fixed external tokenizer but for OUR fitted one. "
    "The fit runs fresh every invocation (_fit_bpe_merges — no cross-"
    "invocation memo); the word table is checkpointed once so fit and "
    "encode share a single corpus aggregation. Shape: merge "
    "application runs on the distinct-WORD table (vocab-sized, the "
    "train_bpe scale contract), and the corpus-side work is one "
    "wordcount-shaped explode + join against the vocab map — "
    "shuffle-side for a large vocabulary, broadcastable below that.",
)
def q_bpe_encode(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.bpe import (
        chars_of,
        merge_pair,
    )

    d = _t(spark, sf_dir, "documents", parallel=True)
    dw = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    # The weighted word table feeds BOTH the fit (4 argmax rounds) and the
    # encode join below; localCheckpoint so the scan + explode + count
    # aggregation runs once — train_bpe's own eager localCheckpoint and
    # count() materialize this lazy checkpoint, and `enc` reuses the
    # truncated plan instead of re-deriving the corpus wordcount
    # (2 scans/explodes → 1).
    words = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    merges = _fit_bpe_merges(words)
    enc = words.select("word", chars_of("word").alias("seg"))
    for _, l, r, _, _ in merges:
        enc = enc.select("word", merge_pair(F.col("seg"), l, r).alias("seg"))
    enc = enc.select("word", F.size("seg").cast("long").alias("n_tok"))
    return (
        dw.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
    )


# =========================================================================
# Retrieval eval: MRR@10 over the kNN holdout
# =========================================================================


@register(
    "q_retrieval_mrr",
    f"""WITH pairs AS (
         SELECT q.vec_id AS qid, t.vec_id AS tid,
                q.label AS qlabel, t.label AS tlabel,
                CAST(floor(({_KNN_COS_SQL}) * 1000000) AS BIGINT) AS sim_e6
         FROM embeddings q JOIN embeddings t
           ON q.vec_id % 20 = 0 AND t.vec_id % 20 <> 0
       ), ranked AS (
         SELECT qid, qlabel, tlabel,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY sim_e6 DESC, tid ASC) AS rn
         FROM pairs
       ), hits AS (
         SELECT qid, CAST(min(rn) AS BIGINT) AS first_rel_rank
         FROM ranked WHERE rn <= 10 AND tlabel = qlabel GROUP BY qid
       )
       SELECT q.vec_id AS qid,
              h.first_rel_rank,
              CAST(COALESCE(1000000 // h.first_rel_rank, 0) AS BIGINT)
                  AS rr_ppm
       FROM embeddings q LEFT JOIN hits h ON h.qid = q.vec_id
       WHERE q.vec_id % 20 = 0""",
    "Retrieval-quality eval: MRR@10 over the kNN holdout — for each query "
    "vector, the rank of the first same-label neighbor in the top-10 by "
    "floor-truncated cosine (NULL + rr=0 when no relevant hit lands in 10), "
    "reciprocal rank in exact integer ppm. Shape: same broadcast-Q/scan-"
    "once-train contract as q_knn_classify; the per-query window is over "
    "k=10 candidate rows. Mean/summary is a trivial re-agg the caller owns.",
)
def q_retrieval_mrr(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q, pairs, w_top = _knn_pairs(emb)
    hits = (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .filter((F.col("rn") <= 10) & (F.col("tlabel") == F.col("qlabel")))
        .groupBy("qid")
        .agg(F.min("rn").cast("long").alias("first_rel_rank"))
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            "first_rel_rank",
            F.coalesce(
                F.expr("1000000 div first_rel_rank"), F.lit(0)
            ).cast("long").alias("rr_ppm"),
        )
    )


# =========================================================================
# RFM customer segmentation
# =========================================================================


@register(
    "q_rfm_segments",
    """WITH per_user AS (
         SELECT user_id,
                max(ts) AS last_ts,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS monetary_cents
         FROM events WHERE event_type = 'purchase' GROUP BY user_id)
       SELECT user_id, frequency, monetary_cents,
              CAST(ntile(5) OVER (ORDER BY last_ts, user_id) AS BIGINT)
                  AS r_score,
              CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT)
                  AS f_score,
              CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS BIGINT)
                  AS m_score,
              CAST(ntile(5) OVER (ORDER BY last_ts, user_id) AS BIGINT) * 100
              + CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) * 10
              + CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS BIGINT)
                  AS segment
       FROM per_user""",
    "RFM customer segmentation: per-user recency/frequency/monetary over "
    "purchases, each quintile-scored 1-5 (later/more = higher) and combined "
    "into the classic 3-digit segment code. The quintiles are GLOBAL "
    "ntiles, computed scale-safe via operators.topk.global_ntile (TeraSort-"
    "style range-partitioned rank + closed-form bucket arithmetic — bit-"
    "identical to SQL NTILE, no single-partition sort); the per-user "
    "rollup is one hash agg, and the three rank passes run over the "
    "|users| aggregate, never the event table.",
)
def q_rfm_segments(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import global_ntile

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum(cents(F.col("value"))).alias("monetary_cents"),
    )
    d = global_ntile(per_user, 5, ["last_ts", "user_id"], out_col="r_score")
    d = global_ntile(d, 5, ["frequency", "user_id"], out_col="f_score")
    d = global_ntile(d, 5, ["monetary_cents", "user_id"], out_col="m_score")
    return d.select(
        "user_id",
        "frequency",
        "monetary_cents",
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        (
            F.col("r_score").cast("long") * 100
            + F.col("f_score").cast("long") * 10
            + F.col("m_score").cast("long")
        ).alias("segment"),
    )


# =========================================================================
# l-diversity privacy audit (complement of q_kanon_suppress)
# =========================================================================


@register(
    "q_ldiversity",
    """WITH g AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS group_n,
                CAST(count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT)
                                     + 100000) // 100000) AS BIGINT)
                    AS l_distinct
         FROM customer GROUP BY c_nationkey, c_mktsegment)
       SELECT c_nationkey, c_mktsegment, group_n, l_distinct,
              l_distinct < 3 AS violates_l3
       FROM g""",
    "l-diversity audit (l=3) over the (nation, segment) quasi-identifier "
    "groups: the number of DISTINCT sensitive values (account-balance "
    "band, 1000-currency-unit buckets in exact cents) per group — a group "
    "can be k-anonymous (q_kanon_suppress) yet leak its sensitive "
    "attribute when every member shares one value; this is the other half "
    "of the privacy gate before a training-data release. Shape: one "
    "grouped count-distinct (two-level partial agg), |QI domain| output "
    "rows.",
)
def q_ldiversity(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    # +100000 shifts TPC-H's acctbal floor (-999.99 → cents ≥ -99999) into
    # positive territory before the truncating div: without it the
    # (-1000, 1000) range collapses into ONE band and l_distinct undercounts.
    band = F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_n"),
        F.countDistinct(band).alias("l_distinct"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "group_n",
        "l_distinct",
        (F.col("l_distinct") < 3).alias("violates_l3"),
    )


# =========================================================================
# Dedup-rate curation report
# =========================================================================


@register(
    "q_dedup_report",
    """WITH corpus AS (
         SELECT doc_id, source, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, source, text
         FROM documents WHERE doc_id % 5 = 0
       ), per_text AS (
         SELECT source, text, CAST(count(*) AS BIGINT) AS copies,
                CAST(octet_length(encode(text)) AS BIGINT) AS bytes
         FROM corpus GROUP BY source, text)
       SELECT source,
              CAST(sum(copies) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_distinct,
              CAST(sum(copies) - count(*) AS BIGINT) AS dup_docs,
              CAST((sum(copies) - count(*)) * 1000000 // sum(copies) AS BIGINT)
                  AS dup_ppm,
              CAST(sum((copies - 1) * bytes) AS BIGINT) AS bytes_saved
       FROM per_text GROUP BY source""",
    "Curation observability: per-source dedup-rate report over the exact-"
    "dup corpus (q_exact_dedup's fixture with source retained) — document "
    "counts, distinct texts, duplicate fraction in exact ppm, and bytes "
    "reclaimed by keep-one dedup. Shape: one (source, text) hash agg (on "
    "xxhash64(text) it would shuffle 8-byte keys) + a tiny per-source "
    "re-agg — the report every dedup pipeline emits before/after gating.",
)
def q_dedup_report(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", "source", "text"
    )
    corpus = d.unionAll(
        d.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    per_text = (
        corpus.groupBy("source", "text")
        .agg(F.count("*").alias("copies"))
        .withColumn("bytes", F.octet_length("text").cast("long"))
    )
    return per_text.groupBy("source").agg(
        F.sum("copies").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        (F.sum("copies") - F.count("*")).alias("dup_docs"),
        F.expr(
            "((sum(copies) - count(*)) * 1000000) div sum(copies)"
        ).alias("dup_ppm"),
        F.sum((F.col("copies") - 1) * F.col("bytes")).alias("bytes_saved"),
    )


# =========================================================================
# Smoothed target encoding (m-estimate)
# =========================================================================


@register(
    "q_target_encode",
    """WITH tot AS (
         SELECT CAST(count(*) AS BIGINT) AS n_all,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                    AS pos_all
         FROM events
       ), g AS (
         SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                    AS pos
         FROM events GROUP BY hour_of_day)
       SELECT hour_of_day, n, pos,
              CAST(pos_all * 1000000 // nullif(n_all, 0) AS BIGINT) AS prior_ppm,
              CAST((pos * 1000000 + 100 * (pos_all * 1000000 // nullif(n_all, 0)))
                   // (n + 100) AS BIGINT) AS enc_ppm
       FROM g, tot""",
    "Smoothed (m-estimate, m=100) target encoding of a categorical feature "
    "(hour-of-day → purchase rate): enc = (pos + m·prior)/(n + m) in exact "
    "integer ppm, the leakage-free-ish category featurizer for GBDT/linear "
    "models over categorical keys with long-tail cardinality. Shape: one "
    "map-side-combined agg to |category| rows + ONE broadcast scalar row — "
    "category cardinality, not data size, bounds everything downstream; the "
    "smoothing makes rare categories shrink to the prior instead of "
    "memorizing noise.",
)
def q_target_encode(spark, sf_dir):
    # ONE scan: the global prior is a whole-frame window over the |category|
    # rows (24 here), not a second pass over the fact table.
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    g = (
        ev.select(F.hour("ts").cast("long").alias("hour_of_day"), pos.alias("p"))
        .groupBy("hour_of_day")
        .agg(F.count("*").alias("n"), F.sum("p").alias("pos"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g = g.select(
        "hour_of_day",
        "n",
        "pos",
        F.sum("n").over(w_all).alias("n_all"),
        F.sum("pos").over(w_all).alias("pos_all"),
    )
    return g.select(
        "hour_of_day",
        "n",
        "pos",
        F.expr("(pos_all * 1000000) div nullif(n_all, 0)").alias("prior_ppm"),
        F.expr(
            "(pos * 1000000 + 100 * ((pos_all * 1000000) div nullif(n_all, 0)))"
            " div (n + 100)"
        ).alias("enc_ppm"),
    )


# =========================================================================
# Calibration / reliability table
# =========================================================================


@register(
    "q_calibration_bins",
    """WITH mx AS (SELECT max(CAST(round(value * 100) AS BIGINT)) AS mc FROM events),
       s AS (
         SELECT CAST(round(value * 100) AS BIGINT) * 1000000 // (mx.mc + 1)
                    AS score_ppm,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         FROM events, mx)
       SELECT score_ppm * 10 // 1000000 AS bin,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(pos) AS BIGINT) AS pos,
              CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
              CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
       FROM s GROUP BY bin""",
    "Calibration (reliability) table: normalize the score to ppm of the "
    "observed max, decile-bin it, and compare mean predicted score vs "
    "realized positive rate per bin — all exact integer ppm (a well-"
    "calibrated scorer has mean_score_ppm ≈ pos_rate_ppm per bin). Shape: "
    "one broadcast scalar (max), one pure-map bin assignment, one hash agg "
    "to 10 rows — N is scanned once; the ECE-style eval at any scale.",
)
def q_calibration_bins(spark, sf_dir):
    # ONE scan via distinct-cents compression (q_auc_roc shape); downstream
    # aggregates are weighted by the per-score counts.
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    sc = (
        ev.select(cents(F.col("value")).alias("c"), pos.alias("p"))
        .groupBy("c")
        .agg(F.count("*").alias("n"), F.sum("p").alias("pos"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    s = sc.withColumn("mc", F.max("c").over(w_all)).select(
        F.expr("(c * 1000000) div (mc + 1)").alias("score_ppm"), "n", "pos"
    )
    return (
        s.groupBy(F.expr("(score_ppm * 10) div 1000000").alias("bin"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("pos").alias("pos"),
            F.expr("sum(score_ppm * n) div sum(n)").alias("mean_score_ppm"),
            F.expr("(sum(pos) * 1000000) div sum(n)").alias("pos_rate_ppm"),
        )
    )


# =========================================================================
# PCA via a distributed gramian (rows-only: eigh is not SQL-expressible)
# =========================================================================

def _fit_pca_components(emb, sf_dir: str) -> tuple[list[float], list[float]]:
    """Top-2 PCA fit via the distributed gramian — deterministic pure
    function of the data. Refit on EVERY call: no module-level memo of
    data-derived results — each bench/oracle invocation computes from the
    parquet inputs."""
    from real_time_rides_data_pipeline_spark.operators.pca import fit_top2_gramian

    return fit_top2_gramian(emb)


@register(
    "q_pca_project",
    None,  # d=64 eigendecomposition is not SQL-expressible → rows-only
    # check; exactness vs numpy PCA is pinned in tests/test_ml.py, and
    # the fit→project composition has a VALUE-CHECKED
    # driver sibling (q_pca_project_2d — closed-form 2x2 eigen, exact
    # int gramian, bit-identical doubles on both legs).
    "Top-2 principal directions of the (uncentered) embedding matrix via a "
    "DISTRIBUTED gramian: mapInArrow accumulates one 64x64 partial X'X per "
    "PARTITION (numpy, zero-copy batches), partials element-wise-sum to ONE "
    "bounded d² vector, eigh runs on the driver (64x64 — microseconds), and "
    "the sign-fixed components fold back into the plan as array literals "
    "for the projection scan. Data crosses the wire as d²·n_partitions "
    "doubles, never as rows — the fit-small/broadcast-big shape that makes "
    "embedding dim-reduction tractable.",
)
def q_pca_project(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v1, v2 = _fit_pca_components(emb, sf_dir)
    from real_time_rides_data_pipeline_spark.functions.vectors import dot

    # One constant-folded literal per component (vec_lit): 2×64 F.lit py4j
    # calls were measurable plan-build overhead — see vectors.vec_lit.
    from real_time_rides_data_pipeline_spark.functions.vectors import vec_lit

    lit1 = vec_lit([float(x) for x in v1])
    lit2 = vec_lit([float(x) for x in v2])
    xs = as_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.floor(dot(xs, lit1) * 1000000).cast("long").alias("pc1_e6"),
        F.floor(dot(xs, lit2) * 1000000).cast("long").alias("pc2_e6"),
    )


#: Closed-form top eigenvector of the 2x2 symmetric gramian [[a,b],[b,c]]
#: as a fixed sequence of IEEE-754 ops shared verbatim by both engine
#: legs (the value-checked sibling of q_pca_project's rows-only d=64
#: eigh). Portability argument, step by step: a/b/c are
#: EXACT int64 sums of e6-scaled products (bit-identical under any
#: partitioning/order — integer addition is associative); int64→double
#: conversion is round-to-nearest (deterministic, identical in JVM and
#: C); +,-,*,/ and sqrt are correctly rounded per IEEE-754, so an
#: identical textual op sequence yields identical doubles; 4e0*x and /2e0
#: are exponent shifts (exact); CASE guards compare exact integers or
#: already-identical doubles. v1=(b, λ1−a) is the b≠0 eigenvector of
#: [[a,b],[b,c]]; v2 is its rotation (−u_y, u_x); both are sign-fixed by
#: the operators/pca.py _sign_fix convention (largest-|coord| entry made
#: positive, first on ties — the |vx|>=|vy| branch).
_PCA2_STEPS = [
    ("ta", "CAST(a AS DOUBLE)"),
    ("tb", "CAST(b AS DOUBLE)"),
    ("tc", "CAST(c AS DOUBLE)"),
    ("disc", "sqrt(((ta - tc) * (ta - tc)) + ((4e0 * tb) * tb))"),
    ("lam", "((ta + tc) + disc) / 2e0"),
    ("vx", "CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 1e0 ELSE 0e0 END)"
           " ELSE tb END"),
    ("vy", "CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 0e0 ELSE 1e0 END)"
           " ELSE lam - ta END"),
    ("nrm", "sqrt((vx * vx) + (vy * vy))"),
    ("sgn", "CASE WHEN abs(vx) >= abs(vy)"
            " THEN (CASE WHEN vx < 0e0 THEN -1e0 ELSE 1e0 END)"
            " ELSE (CASE WHEN vy < 0e0 THEN -1e0 ELSE 1e0 END) END"),
    ("ux", "(vx / nrm) * sgn"),
    ("uy", "(vy / nrm) * sgn"),
    ("w2x", "0e0 - uy"),
    ("w2y", "ux"),
    ("sg2", "CASE WHEN abs(w2x) >= abs(w2y)"
            " THEN (CASE WHEN w2x < 0e0 THEN -1e0 ELSE 1e0 END)"
            " ELSE (CASE WHEN w2y < 0e0 THEN -1e0 ELSE 1e0 END) END"),
    ("u2x", "w2x * sg2"),
    ("u2y", "w2y * sg2"),
]
#: Projection of the e6-scaled int coords onto the unit directions —
#: ≤2e6 ints convert to double exactly, two roundings + floor, shared
#: text on both legs.
_PCA2_P1 = ("CAST(floor((CAST(x1 AS DOUBLE) * ux)"
            " + (CAST(x2 AS DOUBLE) * uy)) AS BIGINT)")
_PCA2_P2 = ("CAST(floor((CAST(x1 AS DOUBLE) * u2x)"
            " + (CAST(x2 AS DOUBLE) * u2y)) AS BIGINT)")
def _pca2_oracle_sql() -> str:
    inner = """SELECT CAST(sum(x1 * x1) AS BIGINT) AS a,
                      CAST(sum(x1 * x2) AS BIGINT) AS b,
                      CAST(sum(x2 * x2) AS BIGINT) AS c
               FROM (SELECT CAST(round(CAST(embedding[1] AS DOUBLE)
                                       * 1000000) AS BIGINT) AS x1,
                            CAST(round(CAST(embedding[2] AS DOUBLE)
                                       * 1000000) AS BIGINT) AS x2
                     FROM embeddings)"""
    for name, expr in _PCA2_STEPS:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return f"""WITH comp AS ({inner}),
       xv AS (SELECT vec_id,
                     CAST(round(CAST(embedding[1] AS DOUBLE)
                                * 1000000) AS BIGINT) AS x1,
                     CAST(round(CAST(embedding[2] AS DOUBLE)
                                * 1000000) AS BIGINT) AS x2
              FROM embeddings)
       SELECT vec_id, {_PCA2_P1} AS pc1_e6, {_PCA2_P2} AS pc2_e6
       FROM xv, comp"""


@register(
    "q_pca_project_2d",
    _pca2_oracle_sql(),
    "The VALUE-CHECKED sibling of q_pca_project (the q_pq_recall "
    "pattern): the same fit→fold-back→project composition — distributed "
    "exact gramian, driver-free eigen-solve, directions folded into the "
    "projection scan — restricted to the first TWO embedding "
    "coordinates, where the symmetric eigenproblem has a CLOSED FORM "
    "(λ1 = ((a+c) + sqrt((a−c)² + 4b²))/2, v1 = (b, λ1−a)) expressible "
    "as an identical IEEE op sequence on both engine legs (_PCA2_STEPS; "
    "sqrt and divide are correctly rounded, the gramian is an exact "
    "int64 sum of e6-scaled products, so every intermediate double is "
    "bit-identical and the floored projections hash-match — no numpy, "
    "no LAPACK, no literals). Sign convention = operators/pca.py "
    "_sign_fix (largest-|coord| positive, first on ties); the d=64 eigh "
    "path keeps its numpy pin in tests/test_ml.py and its rows-only "
    "driver check. Shape: ONE partial/final hash agg produces the three "
    "gramian scalars (the map-side-combine contract of pca.gramian), "
    "the 1-row component frame broadcasts into the projection scan — "
    "the fit moves 3 int64s, the scan is embarrassingly "
    "parallel, and the plan is scan + agg + broadcast-join, no wide "
    "shuffle.",
)
def q_pca_project_2d(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.expr(
            "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
            " * 1000000) AS BIGINT)"
        ).alias("x1"),
        F.expr(
            "CAST(round(CAST(element_at(embedding, 2) AS DOUBLE)"
            " * 1000000) AS BIGINT)"
        ).alias("x2"),
    )
    comp = x.agg(
        F.sum(F.col("x1") * F.col("x1")).alias("a"),
        F.sum(F.col("x1") * F.col("x2")).alias("b"),
        F.sum(F.col("x2") * F.col("x2")).alias("c"),
    )
    for name, expr in _PCA2_STEPS:
        comp = comp.selectExpr("*", f"{expr} AS {name}")
    return x.crossJoin(F.broadcast(comp)).selectExpr(
        "vec_id", f"{_PCA2_P1} AS pc1_e6", f"{_PCA2_P2} AS pc2_e6"
    )


# =========================================================================
# Eval-family completion — NDCG@10, PR-AUC, Brier, Cohen's kappa,
# group-k-fold assignment, time-series CV splits
# =========================================================================

#: floor(1e6 / log2(rank+1)) for ranks 1..10 — the NDCG discount as exact
#: integer weights, identical literals in both legs (log2 itself is
#: irrational, so the scaled-floor TABLE is the engine-portable contract).
_NDCG_W = [1000000, 630929, 500000, 430676, 386852, 356207, 333333,
           315464, 301029, 289064]
_NDCG_CUM = [sum(_NDCG_W[: i + 1]) for i in range(10)]


@register(
    "q_ndcg_at10",
    f"""WITH pairs AS (
         SELECT q.vec_id AS qid, t.vec_id AS tid,
                CASE WHEN t.label = q.label THEN 1 ELSE 0 END AS rel,
                CAST(floor(({_KNN_COS_SQL}) * 1000000) AS BIGINT) AS sim_e6
         FROM embeddings q JOIN embeddings t
           ON q.vec_id % 20 = 0 AND t.vec_id % 20 <> 0
       ), ranked AS (
         SELECT qid, rel,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY sim_e6 DESC, tid ASC) AS rn
         FROM pairs
       ), per_q AS (
         SELECT qid,
                CAST(sum(CASE WHEN rn <= 10
                              THEN rel * ({_NDCG_W})[rn] ELSE 0 END)
                     AS BIGINT) AS dcg_e6,
                CAST(least(sum(rel), 10) AS BIGINT) AS n_rel
         FROM ranked GROUP BY qid)
       SELECT qid, dcg_e6, n_rel,
              CAST(CASE WHEN n_rel = 0 THEN 0
                        ELSE ({_NDCG_CUM})[n_rel] END AS BIGINT) AS idcg_e6,
              CAST(CASE WHEN n_rel = 0 THEN 0
                        ELSE dcg_e6 * 1000000 // (({_NDCG_CUM})[n_rel]) END
                   AS BIGINT) AS ndcg_ppm
       FROM per_q""",
    "NDCG@10 retrieval eval over the kNN holdout — the graded-ranking "
    "companion to q_retrieval_mrr's first-hit metric, sharing _knn_pairs "
    "so the eval can never drift from the classifier. Binary relevance "
    "(same label), discount weights floor(1e6/log2(rank+1)) as a LITERAL "
    "integer table in both legs (log2 is irrational; the scaled-floor "
    "table IS the portable contract), ideal DCG from the prefix-sum table "
    "at min(|relevant in train|, 10), ndcg in exact integer ppm (0 when "
    "no relevant item exists). Shape: the broadcast-Q pair scan feeds ONE "
    "per-query aggregate — rank window over k candidates, no second "
    "pass; dcg*1e6 ≤ 4.6e12 keeps everything in BIGINT.",
)
def q_ndcg_at10(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q, pairs, w_top = _knn_pairs(emb)
    rel = (F.col("tlabel") == F.col("qlabel")).cast("long")
    ranked = pairs.withColumn("rn", F.row_number().over(w_top)).withColumn(
        "rel", rel
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    cum_arr = F.array(*[F.lit(c) for c in _NDCG_CUM])
    per_q = ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                F.col("rn") <= 10,
                F.col("rel") * F.element_at(w_arr, F.col("rn").cast("int")),
            ).otherwise(0)
        ).alias("dcg_e6"),
        F.least(F.sum("rel"), F.lit(10)).cast("long").alias("n_rel"),
    )
    idcg = F.when(F.col("n_rel") == 0, 0).otherwise(
        F.element_at(cum_arr, F.col("n_rel").cast("int"))
    ).cast("long")
    return per_q.select(
        "qid",
        "dcg_e6",
        "n_rel",
        idcg.alias("idcg_e6"),
        F.when(F.col("n_rel") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "dcg_e6 * 1000000 div "
                f"element_at(array({','.join(str(c) for c in _NDCG_CUM)}),"
                " cast(n_rel as int))"
            )
        )
        .alias("ndcg_ppm"),
    )


@register(
    "q_pr_auc",
    """WITH s AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS sc,
                CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p,
                CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT) AS q
         FROM events GROUP BY sc
       ), c AS (
         SELECT p,
                sum(p) OVER (ORDER BY sc DESC) AS tp,
                sum(p + q) OVER (ORDER BY sc DESC) AS preds
         FROM s)
       SELECT CAST((SELECT sum(p) FROM s) AS BIGINT) AS n_pos,
              CAST((SELECT sum(q) FROM s) AS BIGINT) AS n_neg,
              CAST(sum(p * (tp * 1000000 // preds)) AS BIGINT) AS ap_num,
              CAST(sum(p * (tp * 1000000 // preds))
                   // (SELECT sum(p) FROM s) AS BIGINT) AS ap_ppm
       FROM c""",
    "PR-AUC as step-wise AVERAGE PRECISION — the imbalanced-class "
    "companion to q_auc_roc's ROC ranking eval (same label/score "
    "convention: purchase vs cents value): AP = Σ_k ΔR_k·P_k over "
    "distinct-score thresholds descending, computed as exact integers "
    "with the precision floor-truncated to ppm per threshold BEFORE the "
    "recall-weighted sum (the floor placement IS the metric's portable "
    "definition — both engines evaluate the identical expression). "
    "Shape: the same distinct-score domain compression as the AUC key "
    "(N rows → ≤ |2-dp value domain| groups, bounded at any data size), "
    "one cumulative window over that bounded set, one 1-row combine — "
    "never a global per-row sort. tp·1e6 and the ap_num sum stay ≤ "
    "n·1e6, BIGINT-exact to ~9e12 events per class.",
)
def q_pr_auc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    s = (
        ev.select(cents(F.col("value")).alias("sc"), pos.alias("is_pos"))
        .groupBy("sc")
        .agg(F.sum("is_pos").alias("p"), F.count("*").alias("cnt"))
        .select("sc", "p", (F.col("cnt") - F.col("p")).alias("q"))
    )
    # Single-partition window over DISTINCT SCORES only (bounded domain —
    # the q_auc_roc argument); never over raw rows.
    w = Window.orderBy(F.col("sc").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = s.select(
        "p",
        F.sum("p").over(w).alias("tp"),
        F.sum(F.col("p") + F.col("q")).over(w).alias("preds"),
    )
    agg = c.agg(
        F.sum("p").alias("n_pos"),
        F.sum(
            F.col("p") * F.expr("tp * 1000000 div preds")
        ).alias("ap_num"),
    )
    n_neg = s.agg(F.sum("q").alias("n_neg"))
    return agg.crossJoin(F.broadcast(n_neg)).select(
        "n_pos",
        "n_neg",
        "ap_num",
        F.expr("ap_num div n_pos").alias("ap_ppm"),
    )


@register(
    "q_brier_score",
    """WITH m AS (SELECT max(CAST(round(value * 100) AS BIGINT)) AS max_sc
                  FROM events),
       d AS (
         SELECT (CAST(round(value * 100) AS BIGINT) * 1000000
                 // nullif(max_sc, 0))
                - CASE WHEN event_type = 'purchase' THEN 1000000 ELSE 0 END
                    AS err
         FROM events, m)
       SELECT CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(err * err) AS BIGINT) AS brier_num,
              CAST(sum(err * err) // count(*) AS BIGINT) AS brier_e12
       FROM d""",
    "Brier score — the CALIBRATION-sensitive eval completing the trio "
    "with q_auc_roc (ranking) and q_calibration_bins (reliability "
    "table); same label/score convention (purchase vs cents value). The "
    "predicted probability is the score max-normalized to exact ppm "
    "(p̂ = sc·1e6 div max_sc, max broadcast as a 1-row scalar), the "
    "outcome is 0/1e6, and the score is the mean squared error in 1e-12 "
    "units — every step integer, both engines bit-equal. Shape: one "
    "1-row max agg broadcast into a single scan + 1-row combine; no "
    "window, no join on data rows. Per-row err² ≤ 1e12 ⇒ the sum is "
    "BIGINT-exact to ~9e6 events (fixture-safe ×14); past that the sum "
    "widens to DECIMAL(38,0) the same way q_auc_roc documents — ANSI "
    "overflow fails loudly, never silently.",
)
def q_brier_score(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = ev.agg(F.max(cents(F.col("value"))).alias("max_sc"))
    err = (
        F.expr("sc * 1000000 div nullif(max_sc, 0)")
        - F.when(F.col("event_type") == "purchase", 1000000).otherwise(0)
    )
    d = (
        ev.select(
            cents(F.col("value")).alias("sc"), "event_type"
        )
        .crossJoin(F.broadcast(m))
        .select(err.alias("err"))
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("err") * F.col("err")).alias("brier_num"),
    ).select(
        "n_events",
        "brier_num",
        F.expr("brier_num div n_events").alias("brier_e12"),
    )


@register(
    "q_cohens_kappa",
    f"""WITH scored AS (
         SELECT CAST(label AS BIGINT) AS actual, {_CM_PRED_SQL} AS predicted
         FROM embeddings
       ), cm AS (
         SELECT actual, predicted, CAST(count(*) AS BIGINT) AS cnt
         FROM scored GROUP BY actual, predicted
       ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                         CAST(sum(cnt) FILTER (WHERE actual = predicted)
                              AS BIGINT) AS diag
                  FROM cm),
       pe AS (SELECT CAST(sum(a.r * p.c) AS BIGINT) AS pe_num
              FROM (SELECT actual AS cls, sum(cnt) AS r FROM cm
                    GROUP BY actual) a
              JOIN (SELECT predicted AS cls, sum(cnt) AS c FROM cm
                    GROUP BY predicted) p USING (cls))
       SELECT n, diag, pe_num,
              CAST(n * diag - pe_num AS BIGINT) AS kappa_num,
              CAST(n * n - pe_num AS BIGINT) AS kappa_den,
              CAST(CASE WHEN n * diag >= pe_num
                        THEN (n * diag - pe_num) * 1000000 // (n * n - pe_num)
                        ELSE -((pe_num - n * diag) * 1000000 // (n * n - pe_num))
                   END AS BIGINT) AS kappa_ppm
       FROM tot, pe""",
    "Cohen's kappa — chance-corrected agreement between the synthetic "
    "predictor and the true label (the single-number summary next to "
    "q_confusion_matrix's per-class table, same _CM_PRED_SQL predictor "
    "so the two evals describe one contingency table): kappa = "
    "(po−pe)/(1−pe) computed entirely in counts as the exact rational "
    "(n·diag − Σ r_c·c_c) / (n² − Σ r_c·c_c), emitted as num/den plus "
    "ppm truncated TOWARD ZERO explicitly on both legs (kappa can be "
    "negative, and floor-vs-truncate differs between engines on "
    "negatives — the CASE makes the convention the contract). Shape: "
    "one contingency agg of N rows to ≤ C² cells; every re-agg and the "
    "class join run on the tiny cell table.",
)
def q_cohens_kappa(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    h = F.pmod(F.pmod(F.col("vec_id"), 97) * F.lit(KNUTH_MULT % 97), F.lit(97))
    predicted = F.pmod(
        F.col("label") + F.when(h < 10, 1).otherwise(0), F.lit(10)
    ).cast("long")
    cm = (
        emb.select(
            F.col("label").cast("long").alias("actual"),
            predicted.alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cm.agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("cnt"))
            .otherwise(0)
        ).alias("diag"),
    )
    a = cm.groupBy(F.col("actual").alias("cls")).agg(F.sum("cnt").alias("r"))
    p = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("cnt").alias("c")
    )
    pe = a.join(p, "cls").agg(
        F.sum(F.col("r") * F.col("c")).alias("pe_num")
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n",
        "diag",
        "pe_num",
        (F.col("n") * F.col("diag") - F.col("pe_num")).alias("kappa_num"),
        (F.col("n") * F.col("n") - F.col("pe_num")).alias("kappa_den"),
        F.when(
            F.col("n") * F.col("diag") >= F.col("pe_num"),
            F.expr("(n * diag - pe_num) * 1000000 div (n * n - pe_num)"),
        )
        .otherwise(
            -F.expr("(pe_num - n * diag) * 1000000 div (n * n - pe_num)")
        )
        .cast("long")
        .alias("kappa_ppm"),
    )


@register(
    "q_group_kfold",
    """WITH assigned AS (
         SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                    % 5 AS fold,
                user_id,
                CAST(round(value * 100) AS BIGINT) AS c
         FROM events)
       SELECT CAST(fold AS BIGINT) AS fold,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(c) AS BIGINT) AS sum_cents
       FROM assigned GROUP BY fold ORDER BY fold""",
    "GROUP k-fold assignment + balance report — the leakage-free CV "
    "split every user-level model eval needs: the fold is a function of "
    "user_id ALONE (md5-derived 60-bit integer mod 5 — md5 because it is "
    "engine-portable where xxhash64/hash are Spark-specific, the "
    "q_feature_hash precedent), so no user's events can ever straddle "
    "train and validation — leakage-freedom holds by construction, not "
    "by audit. The report shows what the modeler checks before trusting "
    "a split: user/event/mass balance per fold. Shape: pure map fold "
    "assignment + one 5-group aggregate (count-distinct re-shuffles "
    "user_id once); the md5 cost is scan-side and the group "
    "count is a constant 5.",
)
def q_group_kfold(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    fold = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(5),
    ).cast("long")
    return (
        ev.select(
            fold.alias("fold"),
            "user_id",
            cents(F.col("value")).alias("c"),
        )
        .groupBy("fold")
        .agg(
            F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("sum_cents"),
        )
        .orderBy("fold")
    )


@register(
    "q_tscv_splits",
    """WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
                  FROM events),
       s AS (SELECT k,
                    t0 + ((t1 - t0) * k) // 5 AS lo,
                    CASE WHEN k = 4 THEN t1 + 1
                         ELSE t0 + ((t1 - t0) * (k + 1)) // 5 END AS hi
             FROM b, generate_series(1, 4) AS g(k))
       SELECT CAST(s.k AS BIGINT) AS split_id,
              CAST(s.lo AS BIGINT) AS train_end_us,
              CAST(count(*) FILTER (WHERE epoch_us(ts) < s.lo) AS BIGINT)
                  AS n_train,
              CAST(count(*) FILTER (WHERE epoch_us(ts) >= s.lo
                                      AND epoch_us(ts) < s.hi) AS BIGINT)
                  AS n_valid
       FROM events CROSS JOIN s GROUP BY s.k, s.lo ORDER BY split_id""",
    "Expanding-window TIME-SERIES cross-validation splits — the "
    "leakage-free eval protocol for anything with a clock (forecasting, "
    "churn, the OLS keys): four boundaries at exact integer-µs fifths of "
    "the observed span; split k trains on everything before boundary k "
    "and validates on [b_k, b_k+1). The ORACLE counts by cross-joining "
    "events with the 4 splits; the Spark plan is the scale shape — each "
    "event is banded ONCE (band = #boundaries ≤ ts, computed against the "
    "broadcast 1-row bounds), the ≤5-row band histogram is the only "
    "shuffle output, and train/valid counts per split are cumulative "
    "sums over that tiny table. N is touched exactly once regardless of "
    "the split count.",
)
def q_tscv_splits(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(F.max("ts")).alias("t1"),
    )
    # band(e) = number of boundaries b_k <= ts  (k = 1..4) — definitionally
    # consistent with the oracle's lo/hi windows, no clamp edge cases.
    band = sum(
        (
            F.unix_micros(F.col("ts"))
            >= F.col("t0") + F.expr(f"((t1 - t0) * {k}) div 5")
        ).cast("long")
        for k in (1, 2, 3, 4)
    )
    # The bounds ride THROUGH the histogram rows (constant per row, folded
    # back out with min()) instead of re-joining `b` at the end — a second
    # use of `b` would re-scan events, and two scans (bounds, banding) is
    # this protocol's floor since banding needs the bounds first. Pinned
    # by tests/test_plans.py::test_tscv_splits_single_event_scan.
    hist = (
        ev.select("ts")
        .crossJoin(F.broadcast(b))
        .select(band.alias("band"), "t0", "t1")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("t0").alias("t0"),
            F.min("t1").alias("t1"),
        )
    )
    splits = spark.range(1, 5).select(F.col("id").alias("split_id"))
    per_split = (
        splits.crossJoin(F.broadcast(hist))
        .groupBy("split_id")
        .agg(
            F.sum(
                F.when(F.col("band") < F.col("split_id"), F.col("cnt"))
                .otherwise(0)
            ).alias("n_train"),
            F.sum(
                F.when(F.col("band") == F.col("split_id"), F.col("cnt"))
                .otherwise(0)
            ).alias("n_valid"),
            F.min("t0").alias("t0"),
            F.min("t1").alias("t1"),
        )
    )
    return per_split.select(
        "split_id",
        (
            F.col("t0") + F.expr("((t1 - t0) * split_id) div 5")
        ).alias("train_end_us"),
        "n_train",
        "n_valid",
    ).orderBy("split_id")


@register(
    "q_mcc",
    f"""WITH scored AS (
         SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS actual,
                CASE WHEN {_CM_PRED_SQL} >= 5 THEN 1 ELSE 0 END AS predicted
         FROM embeddings
       ), c AS (
         SELECT CAST(count(*) FILTER (WHERE actual = 1 AND predicted = 1)
                     AS BIGINT) AS tp,
                CAST(count(*) FILTER (WHERE actual = 0 AND predicted = 1)
                     AS BIGINT) AS fp,
                CAST(count(*) FILTER (WHERE actual = 1 AND predicted = 0)
                     AS BIGINT) AS fn,
                CAST(count(*) FILTER (WHERE actual = 0 AND predicted = 0)
                     AS BIGINT) AS tn
         FROM scored)
       SELECT tp, fp, fn, tn,
              CAST(tp * tn - fp * fn AS BIGINT) AS mcc_num,
              CAST(CASE WHEN tp * tn >= fp * fn
                        THEN CAST(tp * tn - fp * fn AS HUGEINT)
                             * (tp * tn - fp * fn) * 1000000
                             // (CAST(tp + fp AS HUGEINT) * (tp + fn)
                                 * (tn + fp) * (tn + fn))
                        ELSE -(CAST(tp * tn - fp * fn AS HUGEINT)
                               * (tp * tn - fp * fn) * 1000000
                               // (CAST(tp + fp AS HUGEINT) * (tp + fn)
                                   * (tn + fp) * (tn + fn)))
                   END AS BIGINT) AS mcc2_ppm
       FROM c""",
    "Matthews correlation coefficient for the binarized classifier "
    "(label/prediction ≥ 5, the _CM_PRED_SQL predictor — same "
    "contingency source as q_confusion_matrix/q_cohens_kappa, completing "
    "the agreement-metric trio): MCC's denominator is a square root, so "
    "the key emits the exact numerator plus the SIGNED SQUARED MCC in "
    "ppm (mcc² = num²/den² is rational — the q_acf_hourly corr² "
    "precedent; the sign rides on num; the raw den² — an N⁴-scaled "
    "product — is deliberately NOT a column, it would wrap BIGINT near "
    "2e5 rows). One 4-cell conditional-count aggregate of N rows, "
    "everything after is scalar arithmetic on DECIMAL(38,0) operands "
    "(num²·1e6 passes 2^63 at ~9e4 rows per class — probe-measured: the "
    "f8 replication factor threw ANSI overflow before the widening "
    "landed), with the ≤1e6 ppm quotient back in BIGINT: exact headroom "
    "to ~1e8 rows per class, loud ANSI failure past it, never a silent "
    "wrap.",
)
def q_mcc(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    h = F.pmod(F.pmod(F.col("vec_id"), 97) * F.lit(KNUTH_MULT % 97), F.lit(97))
    pred10 = F.pmod(
        F.col("label") + F.when(h < 10, 1).otherwise(0), F.lit(10)
    )
    actual = (F.col("label") >= 5).cast("long")
    predicted = (pred10 >= 5).cast("long")
    c = emb.select(actual.alias("a"), predicted.alias("p")).agg(
        F.sum(((F.col("a") == 1) & (F.col("p") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("a") == 0) & (F.col("p") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("a") == 1) & (F.col("p") == 0)).cast("long")).alias("fn"),
        F.sum(((F.col("a") == 0) & (F.col("p") == 0)).cast("long")).alias("tn"),
    )
    num = F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")
    mcc2 = F.expr(
        "(CAST(tp * tn - fp * fn AS DECIMAL(38,0))"
        " * (tp * tn - fp * fn) * 1000000)"
        " div (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
        "      * (tn + fp) * (tn + fn))"
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        num.cast("long").alias("mcc_num"),
        F.when(num >= 0, mcc2).otherwise(-mcc2).cast("long").alias("mcc2_ppm"),
    )


@register(
    "q_cv_ols",
    """WITH a AS (
         SELECT event_type,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                    % 5 AS fold,
                CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
                CAST(round(value * 100) AS BIGINT) AS y
         FROM events
       ), m AS (
         SELECT event_type, fold,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(x * y) AS BIGINT) AS sxy
         FROM a GROUP BY event_type, fold
       ), t AS (
         SELECT event_type,
                CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
                CAST(sum(sy) AS BIGINT) AS tsy,
                CAST(sum(sxx) AS BIGINT) AS tsxx,
                CAST(sum(sxy) AS BIGINT) AS tsxy
         FROM m GROUP BY event_type)
       SELECT m.event_type, CAST(m.fold AS BIGINT) AS fold,
              CAST(t.tn - m.n AS BIGINT) AS n_train,
              CAST((t.tn - m.n) * (t.tsxy - m.sxy)
                   - (t.tsx - m.sx) * (t.tsy - m.sy) AS BIGINT) AS slope_num,
              CAST((t.tn - m.n) * (t.tsxx - m.sxx)
                   - (t.tsx - m.sx) * (t.tsx - m.sx) AS BIGINT) AS slope_den,
              CAST((t.tsy - m.sy) * (t.tsxx - m.sxx)
                   - (t.tsx - m.sx) * (t.tsxy - m.sxy) AS BIGINT) AS icept_num
       FROM m JOIN t USING (event_type)""",
    "CROSS-VALIDATED OLS — the leave-one-fold-out model-stability report "
    "that ties the eval family together: folds come from the "
    "leakage-free group assignment (q_group_kfold's portable md5 rule), "
    "moments from q_linreg_fit's exact integer sufficient statistics, "
    "and the per-fold TRAINING fit needs NO second data pass because "
    "moments are ADDITIVE — train(fold f) = totals − fold_f, the same "
    "mergeability that powers q_stream_linreg, here run in reverse "
    "(subtraction is the monoid's inverse). Output: the exact BIGINT "
    "rational fit (slope_num/slope_den, icept_num/slope_den) a caller "
    "compares across folds for stability. Shape: ONE keyed moment "
    "aggregate over N rows (map-side combined), a ≤|types|·5-row "
    "totals re-agg, and a tiny broadcast join — 5-fold CV at the cost "
    "of a single scan.",
)
def q_cv_ols(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    fold = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(5),
    ).cast("long")
    a = ev.select(
        "event_type",
        fold.alias("fold"),
        F.hour("ts").cast("long").alias("x"),
        cents(F.col("value")).alias("y"),
    )
    m = a.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    t = m.groupBy("event_type").agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    j = m.join(F.broadcast(t), "event_type")
    rn = F.col("tn") - F.col("n")
    rsx = F.col("tsx") - F.col("sx")
    rsy = F.col("tsy") - F.col("sy")
    rsxx = F.col("tsxx") - F.col("sxx")
    rsxy = F.col("tsxy") - F.col("sxy")
    return j.select(
        "event_type",
        "fold",
        rn.cast("long").alias("n_train"),
        (rn * rsxy - rsx * rsy).cast("long").alias("slope_num"),
        (rn * rsxx - rsx * rsx).cast("long").alias("slope_den"),
        (rsy * rsxx - rsx * rsxy).cast("long").alias("icept_num"),
    )


# =========================================================================
# ANN (IVF) recall attestation — the value-checked sibling
# q_ann_ivf was missing (MinHash and SimHash both have one)
# =========================================================================


@register(
    "q_ann_recall",
    f"""WITH pairs AS (
         SELECT q.vec_id AS qid, t.vec_id AS tid,
                CAST(floor(({_KNN_COS_SQL}) * 1000000) AS BIGINT) AS sim_e6
         FROM embeddings q JOIN embeddings t
           ON q.vec_id % 20 = 0 AND t.vec_id % 20 <> 0
       ), top AS (
         SELECT qid, tid FROM (
           SELECT qid, tid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim_e6 DESC, tid ASC) AS rn
           FROM pairs)
         WHERE rn <= 10
       )
       SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 20 = 0)
                   AS BIGINT) AS n_queries,
              CAST(10 AS BIGINT) AS k,
              CAST(count(*) AS BIGINT) AS n_exact_pairs,
              TRUE AS full_probe_exact,
              TRUE AS mono_recall,
              TRUE AS recall_floor_ok
       FROM top""",
    "ANN (IVF) RECALL attestation — the value-checked companion to the "
    "rows-only q_ann_ivf (the q_minhash_est_jaccard / "
    "q_simhash_est_hamming pattern, closing the last rows-only key "
    "without a sibling): recall@10 of the IVF path vs the EXACT "
    "broadcast kNN on the fixed 5% query set (_knn_pairs — the same "
    "holdout q_knn_classify/q_retrieval_mrr rank). The exact sides "
    "(query count, exact top-10 pair count through the inner join with "
    "the cluster assignment — a dropped row would hash-fail) are fully "
    "oracle-checked; three implementation properties are attested as "
    "booleans the oracle pins to literal TRUE: (1) FULL-PROBE "
    "EXACTNESS — ivf_topk probing ALL K clusters must return the "
    "brute-force top-10 bit-for-bit (the candidate set is the whole "
    "table, so any mismatch is an assignment/ranking bug — run through "
    "the REAL operator, operators/similarity.py:ivf_topk); (2) MONOTONE "
    "RECALL — hits(n_probe=3) >= hits(n_probe=1), exact by theory: "
    "every exact-top-10 row outranks every non-top-10 candidate, so "
    "hits(C) = |G ∩ C| and C grows with the probe set; (3) RECALL "
    "FLOOR — recall@10 at n_probe=3 >= 0.5 under the seeded centroids "
    "(measured 0.600/0.620/0.594 at sf0.001/0.01/0.1 — near-uniform "
    "embeddings are IVF's worst case; deterministic because the "
    "sampled k-means fit is seeded and the probe order ties break by "
    "centroid id). Shape: |Q| queries broadcast against the train scan "
    "(the q_knn_classify contract), one rank window over the pair "
    "frame, cluster assignment as one scan-side K-cosine argmax, the "
    "two 10-row operator frames join driver-free; everything after is "
    "tiny-frame arithmetic.",
)
def q_ann_recall(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.vectors import cosine
    from real_time_rides_data_pipeline_spark.operators import similarity as SIM
    from real_time_rides_data_pipeline_spark.queries_ext import (
        _fitted_centroids,
        _query_vec,
    )

    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    cents = _fitted_centroids(emb)
    q, pairs, w_top = _knn_pairs(emb)
    exact_top = (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 10)
        .select("qid", "tid")
    )
    clusters = SIM.assign_ivf_cluster(emb, cents).select(
        F.col("vec_id").alias("tid"), "cluster_id"
    )
    # Per-query probe order: centroid ids sorted by (cosine DESC, id ASC) —
    # the ivf_topk probe ranking expressed in-plan over the query COLUMN
    # (ivf_topk ranks driver-side for its single literal query vector).
    # ONE transform over the constant-folded centroid matrix (mat_lit):
    # the previous 8 duplicated 64-Literal cosine subtrees made plan
    # CONSTRUCTION the dominant cost of this key (5.3 s of 8 s at sf0.1).
    from real_time_rides_data_pipeline_spark.functions.vectors import mat_lit

    sims = F.transform(
        mat_lit(cents),
        lambda ca, i: F.struct(
            (-cosine(F.col("qv"), ca)).alias("ns"),
            i.cast("int").alias("cid"),
        ),
    )
    probes = q.select(
        "qid",
        F.transform(F.array_sort(sims), lambda s: s["cid"]).alias(
            "probe_order"
        ),
    )
    j = exact_top.join(clusters, "tid").join(F.broadcast(probes), "qid")

    def hit(p: int):
        return (
            F.expr(f"array_position(slice(probe_order, 1, {p}), cluster_id)")
            > 0
        ).cast("long")

    rec = j.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.sum(hit(1)).alias("h1"),
        F.sum(hit(3)).alias("h3"),
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    # Full-probe exactness through the REAL operator: with every cluster
    # probed the candidate set is the whole train table, so ivf_topk must
    # reproduce brute force exactly — 10 (vec_id, cosine_sim) matches.
    qv = _query_vec(spark, sf_dir)
    train = emb.filter(F.pmod(F.col("vec_id"), 20) != 0)
    n_match = (
        SIM.ivf_topk(train, cents, qv, n_probe=len(cents))
        .join(SIM.brute_force_topk(train, qv, k=10), ["vec_id", "cosine_sim"])
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    return (
        nq.crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(n_match))
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(10).cast("long").alias("k"),
            F.col("n_exact_pairs").cast("long").alias("n_exact_pairs"),
            (F.col("n_match") == 10).alias("full_probe_exact"),
            (F.col("h3") >= F.col("h1")).alias("mono_recall"),
            (F.col("h3") * 1000000 >= F.col("n_exact_pairs") * 500000).alias(
                "recall_floor_ok"
            ),
        )
    )


# =========================================================================
# T-closeness — the third member of the privacy-gate trio
# =========================================================================


@register(
    "q_tcloseness",
    """WITH base AS (
         SELECT c_nationkey, c_mktsegment,
                (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
                    AS band,
                CAST(count(*) AS BIGINT) AS cnt
         FROM customer GROUP BY c_nationkey, c_mktsegment, band
       ), spine AS (
         SELECT g.c_nationkey, g.c_mktsegment, b.band,
                coalesce(x.cnt, 0) AS cnt
         FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM base) g
         CROSS JOIN (SELECT DISTINCT band FROM base) b
         LEFT JOIN base x
           ON x.c_nationkey = g.c_nationkey
          AND x.c_mktsegment = g.c_mktsegment
          AND x.band = b.band
       ), w AS (
         SELECT c_nationkey, c_mktsegment, band, cnt,
                sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment)
                    AS n_group,
                sum(cnt) OVER (PARTITION BY band) AS g_band,
                sum(cnt) OVER () AS n_total,
                count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
                    AS m_bands
         FROM spine
       ), c AS (
         SELECT c_nationkey, c_mktsegment, n_group, n_total, m_bands,
                sum(CAST(cnt AS HUGEINT) * n_total
                    - CAST(g_band AS HUGEINT) * n_group)
                  OVER (PARTITION BY c_nationkey, c_mktsegment
                        ORDER BY band) AS cum
         FROM w)
       SELECT c_nationkey, c_mktsegment,
              CAST(min(n_group) AS BIGINT) AS group_n,
              CAST(sum(abs(cum)) * 1000000
                   // ((min(m_bands) - 1) * CAST(min(n_group) AS HUGEINT)
                       * min(n_total)) AS BIGINT) AS emd_ppm,
              CAST(sum(abs(cum)) * 1000000
                   // ((min(m_bands) - 1) * CAST(min(n_group) AS HUGEINT)
                       * min(n_total)) AS BIGINT) > 250000 AS violates_t25
       FROM c GROUP BY c_nationkey, c_mktsegment""",
    "t-CLOSENESS audit (t = 0.25) — the third member of the privacy gate "
    "next to q_kanon_suppress (group size) and q_ldiversity (distinct "
    "sensitive values): a group can pass both and still leak by "
    "DISTRIBUTION SKEW (every member in the top balance band). Per "
    "(nation, segment) QI group, the Earth Mover's Distance between the "
    "group's sensitive-value distribution (the l-diversity balance "
    "bands — an ORDERED domain) and the global one, via the ordered-"
    "domain identity EMD = Σ|cumulative diffs| / (m−1) (Li, Li, "
    "Venkatasubramanian 2007), kept EXACT over the common denominator "
    "n_group·N: cum_i = Σ_{j≤i} (c_j·N − g_j·n_group), emd_ppm = "
    "⌊1e6·Σ|cum| / ((m−1)·n_group·N)⌋ — integer arithmetic end to end, "
    "HUGEINT/DECIMAL-widened where the N² products pass 2^63 (the q_mcc "
    "headroom discipline). Absent (group, band) cells still shift the "
    "cumulative diffs, so the spine CROSS JOIN materializes them with "
    "zero counts — |QI|×|bands| rows, domain-bounded. Shape: ONE "
    "customer scan compresses to per-(QI, band) counts; every window, "
    "the spine, and the EMD fold run over that compressed table.",
)
def q_tcloseness(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.quality import (
        tcloseness_audit,
    )

    cust = _t(spark, sf_dir, "customer")
    band = F.expr(
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"
    )
    out = tcloseness_audit(
        cust.select("c_nationkey", "c_mktsegment", band.alias("band")),
        ["c_nationkey", "c_mktsegment"],
        "band",
    )
    return out.withColumnRenamed("violates_t", "violates_t25")


# =========================================================================
# Expected calibration error — the scalar reduction of
# q_calibration_bins' reliability table (ECE/MCE are what model cards
# report; the per-bin table is what you debug with)
# =========================================================================


@register(
    "q_ece",
    """WITH mx AS (SELECT max(CAST(round(value * 100) AS BIGINT)) AS mc
                   FROM events),
       s AS (
         SELECT CAST(round(value * 100) AS BIGINT) * 1000000 // (mx.mc + 1)
                    AS score_ppm,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         FROM events, mx),
       b AS (
         SELECT score_ppm * 10 // 1000000 AS bin,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
                CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
         FROM s GROUP BY bin)
       SELECT CAST(sum(n) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_bins,
              CAST(sum(n * abs(pos_rate_ppm - mean_score_ppm)) // sum(n)
                   AS BIGINT) AS ece_ppm,
              CAST(max(abs(pos_rate_ppm - mean_score_ppm)) AS BIGINT)
                  AS mce_ppm
       FROM b""",
    "EXPECTED CALIBRATION ERROR (+ maximum calibration error): the "
    "bin-weighted mean |realized positive rate − mean predicted score| "
    "over the q_calibration_bins decile table, reduced to the one scalar "
    "pair model cards report (ECE for average miscalibration, MCE for "
    "the worst bin). Pure INTEGER ppm end to end — the per-bin rates are "
    "floor-ppm BIGINTs, their gap, the n-weighted sum, and the final "
    "division all stay in int64 (n·gap ≤ n·1e6 — overflow-safe through "
    "9.2e12 events); no float ever appears, so the oracle match is exact "
    "by construction, not by rounding luck. Shape: one events scan → "
    "distinct-cents compression → 10 bin rows → 1 row; the scalar "
    "reduction adds NO new shuffle over the reliability table it reads.",
)
def q_ece(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    sc = (
        ev.select(cents(F.col("value")).alias("c"), pos.alias("p"))
        .groupBy("c")
        .agg(F.count("*").alias("n"), F.sum("p").alias("pos"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = sc.withColumn("mc", F.max("c").over(w_all)).select(
        F.expr("(c * 1000000) div (mc + 1)").alias("score_ppm"), "n", "pos"
    )
    b = s.groupBy(F.expr("(score_ppm * 10) div 1000000").alias("bin")).agg(
        F.sum("n").alias("n"),
        F.expr("sum(score_ppm * n) div sum(n)").alias("mean_score_ppm"),
        F.expr("(sum(pos) * 1000000) div sum(n)").alias("pos_rate_ppm"),
    )
    return b.agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        F.expr(
            "sum(n * abs(pos_rate_ppm - mean_score_ppm)) div sum(n)"
        ).alias("ece_ppm"),
        F.max(F.abs(F.col("pos_rate_ppm") - F.col("mean_score_ppm"))).alias(
            "mce_ppm"
        ),
    )


# =========================================================================
# Johnson–Lindenstrauss random projection — the NO-FIT
# dimensionality reduction next to q_pca_project's fitted one (JL needs
# no training pass, no model distribution, and its distance-preservation
# guarantee is distribution-free)
# =========================================================================


def _jl_planes_sql(planes: list[list[float]]) -> str:
    """DuckDB literal for the deterministic ±1 JL projection matrix —
    generated from the SAME hyperplane_planes function the Spark side
    folds in, so the two engines multiply identical matrices."""
    rows = ", ".join(
        "[" + ", ".join(("1.0" if x > 0 else "-1.0") for x in p) + "]"
        for p in planes
    )
    return f"[{rows}]"


_JL_PLANES_SQL_PROJ = (
    "CAST(floor(list_reduce(list_transform(range(len(embedding)), "
    "i -> embedding[i+1]::DOUBLE * {m}[{j}][i+1]), (x, y) -> x + y) "
    "* 1000000) AS BIGINT)"
)


def _jl_oracle_sql() -> str:
    """Oracle assembled from the SAME hyperplane_planes matrix the Spark
    side folds in: per-row dots against the Â±1 literal, left-to-right
    list_reduce fold (the q_cosine_topk fold-order argument â products
    and sums of identical doubles in identical order are bit-identical
    across engines)."""
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    m = _jl_planes_sql(hyperplane_planes(n_planes=4))
    return (
        "SELECT vec_id, "
        + ", ".join(
            _JL_PLANES_SQL_PROJ.format(m=m, j=j + 1) + f" AS jl{j}_e6"
            for j in range(4)
        )
        + " FROM embeddings"
    )


@register(
    "q_jl_project",
    _jl_oracle_sql(),
    "JOHNSON–LINDENSTRAUSS random projection to 4 dimensions via the "
    "deterministic ±1 hyperplane family (operators/similarity."
    "hyperplane_planes — the Knuth-hash sign matrix the cosine-LSH "
    "operator banded into buckets; here the raw projections are the "
    "output). The NO-FIT complement to q_pca_project: no training "
    "pass, no model to broadcast beyond the folded constant matrix, "
    "and the JL lemma's distance preservation is distribution-free — "
    "the standard first move for shrinking a large embedding table "
    "before a fitted method sees them. Projections in floor-e6 "
    "integers; each dot folds left-to-right (Spark aggregate == "
    "DuckDB list_reduce) over ±1·double products, so pre-floor "
    "doubles are bit-identical cross-engine. Shape: a pure narrow "
    "map over one embeddings scan — no shuffle, no collect; the "
    "projection matrix is ONE constant-folded mat_lit literal.",
)
def q_jl_project(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.vectors import (
        as_double,
        dot,
        mat_lit,
    )
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    planes = hyperplane_planes(n_planes=4)
    xs = as_double(F.col("embedding"))
    projs = F.transform(
        mat_lit(planes), lambda p: F.floor(dot(xs, p) * 1000000).cast("long")
    )
    return emb.select(
        "vec_id",
        projs[0].alias("jl0_e6"),
        projs[1].alias("jl1_e6"),
        projs[2].alias("jl2_e6"),
        projs[3].alias("jl3_e6"),
    )


# =========================================================================
# Inverse-frequency class weights — the loss-reweighting table
# every imbalanced-label training run ships next to its dataset
# =========================================================================


@register(
    "q_label_weights",
    """WITH g AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_class
         FROM events GROUP BY event_type
       ), t AS (
         SELECT CAST(sum(n_class) AS BIGINT) AS n_all,
                CAST(count(*) AS BIGINT) AS k
         FROM g)
       SELECT g.event_type, g.n_class,
              CAST(least(10000000,
                         (t.n_all * 1000000) // (t.k * g.n_class))
                   AS BIGINT) AS weight_ppm,
              g.n_class * 100 >= t.n_all AS is_major
       FROM g, t""",
    "Inverse-frequency CLASS WEIGHTS with a 10× cap: w_c = min(10, "
    "N/(K·n_c)) in exact integer ppm — the balanced-loss reweighting "
    "table (sklearn's 'balanced' heuristic) a training run joins against "
    "its label column; the cap keeps ultra-rare classes from exploding "
    "the gradient. is_major flags classes at ≥1% mass (the ones the cap "
    "never touches). Pure integer floor division, overflow-safe to "
    "9.2e12 events. Shape: one map-side-combined agg to |classes| rows "
    "+ one broadcast scalar row — at any corpus size the weight table "
    "is |classes| rows broadcast back to the training scan.",
)
def q_label_weights(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_class"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.select(
        "event_type",
        "n_class",
        F.sum("n_class").over(w_all).alias("n_all"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    return g.select(
        "event_type",
        "n_class",
        F.least(
            F.lit(10000000),
            F.expr("(n_all * 1000000) div (k * n_class)"),
        ).alias("weight_ppm"),
        (F.col("n_class") * 100 >= F.col("n_all")).alias("is_major"),
    )


# =========================================================================
# Welch's t-test — the unequal-variance two-sample
# test every A/B experiment readout runs
# =========================================================================


@register(
    "q_welch_ttest",
    """WITH g AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
                CAST(sum(CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS s2
         FROM events WHERE event_type IN ('purchase', 'click')
         GROUP BY event_type
       ), w AS (
         SELECT
           max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
           max(CASE WHEN event_type = 'purchase' THEN s1 END) AS sa1,
           max(CASE WHEN event_type = 'purchase' THEN s2 END) AS sq1,
           max(CASE WHEN event_type = 'click' THEN n END) AS n2,
           max(CASE WHEN event_type = 'click' THEN s1 END) AS sa2,
           max(CASE WHEN event_type = 'click' THEN s2 END) AS sq2
         FROM g
       ), v AS (
         SELECT n1, n2,
                (sq1::DOUBLE - (sa1::DOUBLE * sa1) / n1) / (n1 - 1) / n1
                    AS a,
                (sq2::DOUBLE - (sa2::DOUBLE * sa2) / n2) / (n2 - 1) / n2
                    AS b,
                sa1::DOUBLE / n1 - sa2::DOUBLE / n2 AS md
         FROM w
       )
       SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
              CAST(floor(md * 10000) AS BIGINT) AS mean_diff_e4_cents,
              CAST(floor(md / sqrt(a + b) * 1000000) AS BIGINT) AS t_e6,
              CAST(floor((a + b) * (a + b)
                         / (a * a / (n1 - 1) + b * b / (n2 - 1)) * 1000000)
                   AS BIGINT) AS df_e6,
              abs(md / sqrt(a + b)) > 1.96 AS significant_05
       FROM v""",
    "WELCH'S t-TEST (unequal variances) on purchase-vs-click spend — the "
    "two-sample readout every A/B experiment pipeline runs, with the "
    "Welch–Satterthwaite effective df. Cross-engine float discipline: "
    "the sufficient statistics (n, Σcents, Σcents²) are EXACT BIGINTs "
    "(cents² ≤ 1e8, Σ ≤ 9.2e18 through ~1e10 rows); t and df derive "
    "from six integers through an identical +,-,*,/,sqrt expression "
    "tree on both engines — correctly-rounded IEEE ops on identical "
    "inputs, no aggregate-order hazard anywhere (the only sums are the "
    "integer moments). Shape: one events scan → map-side-combined "
    "2-group moment agg → 1-row pivot → scalar arithmetic; the same "
    "one-pass moment shape as q_linreg_fit.",
)
def q_welch_ttest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = cents(F.col("value"))
    g = (
        ev.select("event_type", c.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s1"))).alias("sa1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s2"))).alias("sq1"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("s1"))).alias("sa2"),
        F.max(F.when(F.col("event_type") == "click", F.col("s2"))).alias("sq2"),
    )
    a = (
        (F.col("sq1").cast("double") - F.col("sa1").cast("double") * F.col("sa1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
    )
    b = (
        (F.col("sq2").cast("double") - F.col("sa2").cast("double") * F.col("sa2") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    md = F.col("sa1").cast("double") / F.col("n1") - F.col("sa2").cast(
        "double"
    ) / F.col("n2")
    v = w.select("n1", "n2", a.alias("a"), b.alias("b"), md.alias("md"))
    t = F.col("md") / F.sqrt(F.col("a") + F.col("b"))
    return v.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.floor(F.col("md") * 10000).cast("long").alias("mean_diff_e4_cents"),
        F.floor(t * 1000000).cast("long").alias("t_e6"),
        F.floor(
            (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            / (
                F.col("a") * F.col("a") / (F.col("n1") - 1)
                + F.col("b") * F.col("b") / (F.col("n2") - 1)
            )
            * 1000000
        )
        .cast("long")
        .alias("df_e6"),
        (F.abs(t) > 1.96).alias("significant_05"),
    )


# =========================================================================
# Mann–Whitney U — the nonparametric companion to
# q_welch_ttest (rank-sum needs no normality; the pair is the standard
# A/B readout battery)
# =========================================================================


@register(
    "q_mann_whitney",
    """WITH c AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                CAST(count(*) FILTER (WHERE event_type = 'purchase')
                     AS BIGINT) AS n1c,
                CAST(count(*) FILTER (WHERE event_type = 'click')
                     AS BIGINT) AS n2c
         FROM events WHERE event_type IN ('purchase', 'click')
         GROUP BY cents
       ), w AS (
         SELECT n1c, n2c, (n1c + n2c) AS m,
                CAST(sum(n1c + n2c) OVER (ORDER BY cents) AS BIGINT)
                    - (n1c + n2c) AS lower_cnt
         FROM c
       ), s AS (
         SELECT CAST(sum(n1c) AS BIGINT) AS n1,
                CAST(sum(n2c) AS BIGINT) AS n2,
                CAST(sum(n1c * (2 * lower_cnt + m + 1)) AS BIGINT) AS r1x2,
                CAST(sum(m * m * m - m) AS BIGINT) AS ties
         FROM w
       ), v AS (
         SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2,
                n1::DOUBLE * n2 / 12.0
                * ((n1 + n2 + 1)
                   - ties::DOUBLE / ((n1 + n2) * (n1 + n2 - 1.0))) AS var
         FROM s
       )
       SELECT n1, n2, CAST(u1x2 AS BIGINT) AS u1_x2,
              CAST(floor((u1x2 - n1::DOUBLE * n2) / 2.0 / sqrt(var)
                         * 1000000) AS BIGINT) AS z_e6,
              abs((u1x2 - n1::DOUBLE * n2) / 2.0 / sqrt(var)) > 1.96
                  AS significant_05
       FROM v""",
    "MANN–WHITNEY U (Wilcoxon rank-sum) on purchase-vs-click spend — the "
    "NONPARAMETRIC companion to q_welch_ttest (no normality assumption; "
    "together they are the standard A/B readout battery). Exact integer "
    "rank arithmetic over the distinct-cents compression: a tie block of "
    "size m whose strictly-lower cumulative count is L has average rank "
    "L + (m+1)/2, kept integral as 2·rank = 2L + m + 1, so 2·R1, "
    "2·U1 = 2R1 − n1(n1+1), and the tie term Σ(m³−m) are all EXACT "
    "BIGINTs (blocks are bounded by the ≤1e6-value cents domain, so m³ "
    "stays tiny at any corpus size); the normal-approximation z then "
    "derives from five exact integers through one identical "
    "+,-,*,/,sqrt tree per engine — no aggregate-order hazard. Shape: "
    "one events scan → distinct-cents agg → ONE cumulative window over "
    "the value domain → 1 row; every post-scan frame is "
    "domain-sized.",
)
def q_mann_whitney(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = (
        ev.select("event_type", cents(F.col("value")).alias("cents"))
        .groupBy("cents")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n1c"),
            F.sum((F.col("event_type") == "click").cast("long")).alias(
                "n2c"
            ),
        )
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = F.col("n1c") + F.col("n2c")
    w = c.select(
        "n1c",
        "n2c",
        m.alias("m"),
        (F.sum(m).over(w_cum) - m).alias("lower_cnt"),
    )
    s = w.agg(
        F.sum("n1c").alias("n1"),
        F.sum("n2c").alias("n2"),
        F.sum(
            F.col("n1c") * (2 * F.col("lower_cnt") + F.col("m") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("m") * F.col("m") * F.col("m") - F.col("m")
        ).alias("ties"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("ties").cast("double")
            / (
                (F.col("n1") + F.col("n2"))
                * (F.col("n1") + F.col("n2") - 1.0)
            )
        )
    )
    v = s.select(
        "n1", "n2", u1x2.alias("u1x2"), var.alias("var")
    )
    z = (
        (F.col("u1x2") - F.col("n1").cast("double") * F.col("n2"))
        / 2.0
        / F.sqrt(F.col("var"))
    )
    return v.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("u1x2").cast("long").alias("u1_x2"),
        F.floor(z * 1000000).cast("long").alias("z_e6"),
        (F.abs(z) > 1.96).alias("significant_05"),
    )


# =========================================================================
# Spearman rank correlation — the monotone-association
# companion to q_corr_exact's Pearson (outlier-robust, scale-free)
# =========================================================================


@register(
    "q_spearman_corr",
    """WITH per_user AS (
         SELECT user_id,
                CAST(count(*) AS BIGINT) AS x,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
         FROM events GROUP BY user_id
       ), r AS (
         SELECT 2 * rank() OVER (ORDER BY x)
                  + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1
                    AS rx2,
                2 * rank() OVER (ORDER BY y)
                  + CAST(count(*) OVER (PARTITION BY y) AS BIGINT) - 1
                    AS ry2
         FROM per_user
       ), s AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(rx2 AS HUGEINT)) AS DOUBLE) AS sx,
                CAST(sum(CAST(ry2 AS HUGEINT)) AS DOUBLE) AS sy,
                CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS DOUBLE) AS sxy,
                CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS DOUBLE) AS sxx,
                CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS DOUBLE) AS syy
         FROM r
       )
       SELECT n AS n_users,
              CAST(floor((n * sxy - sx * sy) * 1000000
                         / nullif(sqrt((n * sxx - sx * sx)
                                       * (n * syy - sy * sy)), 0.0))
                   AS BIGINT) AS spearman_ppm
       FROM s""",
    "SPEARMAN rank correlation between per-user activity (event count) "
    "and per-user spend — the monotone-association companion to "
    "q_corr_exact's Pearson (rank-based, so outlier-robust and invariant "
    "to any monotone rescaling of either variable). Exact integer rank "
    "arithmetic: tie-averaged 2*rank per variable (min+max of the "
    "scale-safe distributed row number within each tie group — "
    "operators.topk.global_row_number, NO single-partition sort), then "
    "Pearson over the integer 2*ranks with the five moment sums kept "
    "EXACT as DECIMAL(38,0)/HUGEINT (order-independent; per-row products "
    "stay in int64 to n~1.5e9 users, sums exact far beyond); rho derives "
    "from six exact numbers through one identical +,-,*,/,sqrt tree per "
    "engine, floored to ppm. Shape: one events scan -> |users| agg -> "
    "two range-partitioned rank passes + tie-group re-aggs over the "
    "value DOMAINS -> 1 row.",
)
def q_spearman_corr(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import (
        global_row_number,
    )

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(cents(F.col("value"))).alias("y"),
    )
    # Three consumers (two rank passes + the moment join) — materialize
    # the |users| aggregate once so events are scanned exactly once (the
    # textdedup signature-table precedent).
    per_user = per_user.localCheckpoint()
    # Tie-averaged 2*rank = min(rn) + max(rn) within each tie group, with
    # rn a distributed global row number (rank()+count() needs a global
    # window; min+max of rn per distinct value is the scale-safe identity).
    a = global_row_number(per_user, ["x", "user_id"], out_col="__rx")
    ax = a.groupBy("x").agg((F.min("__rx") + F.max("__rx")).alias("rx2"))
    b = global_row_number(per_user, ["y", "user_id"], out_col="__ry")
    by = b.groupBy("y").agg((F.min("__ry") + F.max("__ry")).alias("ry2"))
    r = per_user.join(ax, "x").join(by, "y")
    dec = "decimal(38,0)"
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("ry2").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("rx2") * F.col("ry2")).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("rx2") * F.col("rx2")).cast(dec))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry2") * F.col("ry2")).cast(dec))
        .cast("double")
        .alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1000000
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.floor(num / F.nullif(den, F.lit(0.0)))
        .cast("long")
        .alias("spearman_ppm"),
    )


# =========================================================================
# Cohen's d / Hedges' g — the effect-size readout that
# accompanies q_welch_ttest's significance readout
# =========================================================================


@register(
    "q_cohens_d",
    """WITH g AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS s1,
                CAST(sum(CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS s2
         FROM events WHERE event_type IN ('purchase', 'click')
         GROUP BY event_type
       ), w AS (
         SELECT
           max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
           max(CASE WHEN event_type = 'purchase' THEN s1 END) AS sa1,
           max(CASE WHEN event_type = 'purchase' THEN s2 END) AS sq1,
           max(CASE WHEN event_type = 'click' THEN n END) AS n2,
           max(CASE WHEN event_type = 'click' THEN s1 END) AS sa2,
           max(CASE WHEN event_type = 'click' THEN s2 END) AS sq2
         FROM g
       ), v AS (
         SELECT n1, n2,
                sa1::DOUBLE / n1 - sa2::DOUBLE / n2 AS md,
                ((sq1::DOUBLE - (sa1::DOUBLE * sa1) / n1)
                 + (sq2::DOUBLE - (sa2::DOUBLE * sa2) / n2))
                / (n1 + n2 - 2) AS sp2
         FROM w
       )
       SELECT n1, n2,
              CAST(floor(sqrt(sp2) * 100) AS BIGINT) AS pooled_sd_cents_e2,
              CAST(floor(md / sqrt(sp2) * 1000000) AS BIGINT) AS d_e6,
              CAST(floor(md / sqrt(sp2)
                         * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
                         * 1000000) AS BIGINT) AS g_e6
       FROM v""",
    "COHEN'S d (pooled-SD standardized mean difference) + the small-"
    "sample-corrected HEDGES' g on purchase-vs-click spend — the effect-"
    "SIZE readout that belongs next to q_welch_ttest's significance "
    "readout (a tiny p-value with a negligible d is the classic big-data "
    "trap: at big-data n everything is 'significant', only d says whether it "
    "matters). Same exact-integer-moment discipline as the t-test: "
    "(n, sum-cents, sum-cents-squared) per group are EXACT BIGINTs, "
    "pooled variance / d / g derive through one identical "
    "+,-,*,/,sqrt tree per engine. Shape: one events scan -> map-side-"
    "combined 2-group moment agg -> 1-row pivot -> scalar arithmetic.",
)
def q_cohens_d(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = cents(F.col("value"))
    g = (
        ev.select("event_type", c.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s1"))).alias("sa1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s2"))).alias("sq1"),
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("s1"))).alias("sa2"),
        F.max(F.when(F.col("event_type") == "click", F.col("s2"))).alias("sq2"),
    )
    md = F.col("sa1").cast("double") / F.col("n1") - F.col("sa2").cast(
        "double"
    ) / F.col("n2")
    sp2 = (
        (
            F.col("sq1").cast("double")
            - F.col("sa1").cast("double") * F.col("sa1") / F.col("n1")
        )
        + (
            F.col("sq2").cast("double")
            - F.col("sa2").cast("double") * F.col("sa2") / F.col("n2")
        )
    ) / (F.col("n1") + F.col("n2") - 2)
    v = w.select("n1", "n2", md.alias("md"), sp2.alias("sp2"))
    d = F.col("md") / F.sqrt(F.col("sp2"))
    return v.select(
        "n1",
        "n2",
        F.floor(F.sqrt(F.col("sp2")) * 100)
        .cast("long")
        .alias("pooled_sd_cents_e2"),
        F.floor(d * 1000000).cast("long").alias("d_e6"),
        F.floor(
            d
            * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0))
            * 1000000
        )
        .cast("long")
        .alias("g_e6"),
    )


# =========================================================================
# Half-sample replication CI — a deterministic,
# one-scan bootstrap-style interval for the mean
# =========================================================================

#: Number of half-sample replicates (= usable bits of the md5-derived
#: 60-bit row hash; one independent-ish coin per replicate).
_HSR_B = 60


def _hsr_oracle() -> str:
    return "WITH b AS (\n         SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT\n                    AS h,\n                CAST(round(value * 100) AS BIGINT) AS c\n         FROM events WHERE event_type = 'purchase'\n       ), g AS (\n         SELECT CAST(sum(c) AS BIGINT) AS s_all,\n                CAST(count(*) AS BIGINT) AS n_all,\n                CAST(sum(CASE WHEN (h // 1) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s0, CAST(sum((h // 1) % 2) AS BIGINT) AS n0,\n                CAST(sum(CASE WHEN (h // 2) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s1, CAST(sum((h // 2) % 2) AS BIGINT) AS n1,\n                CAST(sum(CASE WHEN (h // 4) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s2, CAST(sum((h // 4) % 2) AS BIGINT) AS n2,\n                CAST(sum(CASE WHEN (h // 8) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s3, CAST(sum((h // 8) % 2) AS BIGINT) AS n3,\n                CAST(sum(CASE WHEN (h // 16) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s4, CAST(sum((h // 16) % 2) AS BIGINT) AS n4,\n                CAST(sum(CASE WHEN (h // 32) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s5, CAST(sum((h // 32) % 2) AS BIGINT) AS n5,\n                CAST(sum(CASE WHEN (h // 64) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s6, CAST(sum((h // 64) % 2) AS BIGINT) AS n6,\n                CAST(sum(CASE WHEN (h // 128) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s7, CAST(sum((h // 128) % 2) AS BIGINT) AS n7,\n                CAST(sum(CASE WHEN (h // 256) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s8, CAST(sum((h // 256) % 2) AS BIGINT) AS n8,\n                CAST(sum(CASE WHEN (h // 512) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s9, CAST(sum((h // 512) % 2) AS BIGINT) AS n9,\n                CAST(sum(CASE WHEN (h // 1024) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s10, CAST(sum((h // 1024) % 2) AS BIGINT) AS n10,\n                CAST(sum(CASE WHEN (h // 2048) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s11, CAST(sum((h // 2048) % 2) AS BIGINT) AS n11,\n                CAST(sum(CASE WHEN (h // 4096) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s12, CAST(sum((h // 4096) % 2) AS BIGINT) AS n12,\n                CAST(sum(CASE WHEN (h // 8192) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s13, CAST(sum((h // 8192) % 2) AS BIGINT) AS n13,\n                CAST(sum(CASE WHEN (h // 16384) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s14, CAST(sum((h // 16384) % 2) AS BIGINT) AS n14,\n                CAST(sum(CASE WHEN (h // 32768) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s15, CAST(sum((h // 32768) % 2) AS BIGINT) AS n15,\n                CAST(sum(CASE WHEN (h // 65536) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s16, CAST(sum((h // 65536) % 2) AS BIGINT) AS n16,\n                CAST(sum(CASE WHEN (h // 131072) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s17, CAST(sum((h // 131072) % 2) AS BIGINT) AS n17,\n                CAST(sum(CASE WHEN (h // 262144) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s18, CAST(sum((h // 262144) % 2) AS BIGINT) AS n18,\n                CAST(sum(CASE WHEN (h // 524288) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s19, CAST(sum((h // 524288) % 2) AS BIGINT) AS n19,\n                CAST(sum(CASE WHEN (h // 1048576) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s20, CAST(sum((h // 1048576) % 2) AS BIGINT) AS n20,\n                CAST(sum(CASE WHEN (h // 2097152) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s21, CAST(sum((h // 2097152) % 2) AS BIGINT) AS n21,\n                CAST(sum(CASE WHEN (h // 4194304) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s22, CAST(sum((h // 4194304) % 2) AS BIGINT) AS n22,\n                CAST(sum(CASE WHEN (h // 8388608) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s23, CAST(sum((h // 8388608) % 2) AS BIGINT) AS n23,\n                CAST(sum(CASE WHEN (h // 16777216) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s24, CAST(sum((h // 16777216) % 2) AS BIGINT) AS n24,\n                CAST(sum(CASE WHEN (h // 33554432) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s25, CAST(sum((h // 33554432) % 2) AS BIGINT) AS n25,\n                CAST(sum(CASE WHEN (h // 67108864) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s26, CAST(sum((h // 67108864) % 2) AS BIGINT) AS n26,\n                CAST(sum(CASE WHEN (h // 134217728) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s27, CAST(sum((h // 134217728) % 2) AS BIGINT) AS n27,\n                CAST(sum(CASE WHEN (h // 268435456) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s28, CAST(sum((h // 268435456) % 2) AS BIGINT) AS n28,\n                CAST(sum(CASE WHEN (h // 536870912) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s29, CAST(sum((h // 536870912) % 2) AS BIGINT) AS n29,\n                CAST(sum(CASE WHEN (h // 1073741824) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s30, CAST(sum((h // 1073741824) % 2) AS BIGINT) AS n30,\n                CAST(sum(CASE WHEN (h // 2147483648) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s31, CAST(sum((h // 2147483648) % 2) AS BIGINT) AS n31,\n                CAST(sum(CASE WHEN (h // 4294967296) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s32, CAST(sum((h // 4294967296) % 2) AS BIGINT) AS n32,\n                CAST(sum(CASE WHEN (h // 8589934592) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s33, CAST(sum((h // 8589934592) % 2) AS BIGINT) AS n33,\n                CAST(sum(CASE WHEN (h // 17179869184) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s34, CAST(sum((h // 17179869184) % 2) AS BIGINT) AS n34,\n                CAST(sum(CASE WHEN (h // 34359738368) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s35, CAST(sum((h // 34359738368) % 2) AS BIGINT) AS n35,\n                CAST(sum(CASE WHEN (h // 68719476736) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s36, CAST(sum((h // 68719476736) % 2) AS BIGINT) AS n36,\n                CAST(sum(CASE WHEN (h // 137438953472) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s37, CAST(sum((h // 137438953472) % 2) AS BIGINT) AS n37,\n                CAST(sum(CASE WHEN (h // 274877906944) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s38, CAST(sum((h // 274877906944) % 2) AS BIGINT) AS n38,\n                CAST(sum(CASE WHEN (h // 549755813888) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s39, CAST(sum((h // 549755813888) % 2) AS BIGINT) AS n39,\n                CAST(sum(CASE WHEN (h // 1099511627776) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s40, CAST(sum((h // 1099511627776) % 2) AS BIGINT) AS n40,\n                CAST(sum(CASE WHEN (h // 2199023255552) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s41, CAST(sum((h // 2199023255552) % 2) AS BIGINT) AS n41,\n                CAST(sum(CASE WHEN (h // 4398046511104) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s42, CAST(sum((h // 4398046511104) % 2) AS BIGINT) AS n42,\n                CAST(sum(CASE WHEN (h // 8796093022208) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s43, CAST(sum((h // 8796093022208) % 2) AS BIGINT) AS n43,\n                CAST(sum(CASE WHEN (h // 17592186044416) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s44, CAST(sum((h // 17592186044416) % 2) AS BIGINT) AS n44,\n                CAST(sum(CASE WHEN (h // 35184372088832) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s45, CAST(sum((h // 35184372088832) % 2) AS BIGINT) AS n45,\n                CAST(sum(CASE WHEN (h // 70368744177664) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s46, CAST(sum((h // 70368744177664) % 2) AS BIGINT) AS n46,\n                CAST(sum(CASE WHEN (h // 140737488355328) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s47, CAST(sum((h // 140737488355328) % 2) AS BIGINT) AS n47,\n                CAST(sum(CASE WHEN (h // 281474976710656) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s48, CAST(sum((h // 281474976710656) % 2) AS BIGINT) AS n48,\n                CAST(sum(CASE WHEN (h // 562949953421312) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s49, CAST(sum((h // 562949953421312) % 2) AS BIGINT) AS n49,\n                CAST(sum(CASE WHEN (h // 1125899906842624) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s50, CAST(sum((h // 1125899906842624) % 2) AS BIGINT) AS n50,\n                CAST(sum(CASE WHEN (h // 2251799813685248) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s51, CAST(sum((h // 2251799813685248) % 2) AS BIGINT) AS n51,\n                CAST(sum(CASE WHEN (h // 4503599627370496) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s52, CAST(sum((h // 4503599627370496) % 2) AS BIGINT) AS n52,\n                CAST(sum(CASE WHEN (h // 9007199254740992) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s53, CAST(sum((h // 9007199254740992) % 2) AS BIGINT) AS n53,\n                CAST(sum(CASE WHEN (h // 18014398509481984) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s54, CAST(sum((h // 18014398509481984) % 2) AS BIGINT) AS n54,\n                CAST(sum(CASE WHEN (h // 36028797018963968) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s55, CAST(sum((h // 36028797018963968) % 2) AS BIGINT) AS n55,\n                CAST(sum(CASE WHEN (h // 72057594037927936) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s56, CAST(sum((h // 72057594037927936) % 2) AS BIGINT) AS n56,\n                CAST(sum(CASE WHEN (h // 144115188075855872) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s57, CAST(sum((h // 144115188075855872) % 2) AS BIGINT) AS n57,\n                CAST(sum(CASE WHEN (h // 288230376151711744) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s58, CAST(sum((h // 288230376151711744) % 2) AS BIGINT) AS n58,\n                CAST(sum(CASE WHEN (h // 576460752303423488) % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS s59, CAST(sum((h // 576460752303423488) % 2) AS BIGINT) AS n59\n         FROM b\n       ), m AS (\n         SELECT s_all, n_all,\n                list_sort([s0::DOUBLE / n0, s1::DOUBLE / n1, s2::DOUBLE / n2, s3::DOUBLE / n3, s4::DOUBLE / n4, s5::DOUBLE / n5, s6::DOUBLE / n6, s7::DOUBLE / n7, s8::DOUBLE / n8, s9::DOUBLE / n9, s10::DOUBLE / n10, s11::DOUBLE / n11, s12::DOUBLE / n12, s13::DOUBLE / n13, s14::DOUBLE / n14, s15::DOUBLE / n15, s16::DOUBLE / n16, s17::DOUBLE / n17, s18::DOUBLE / n18, s19::DOUBLE / n19, s20::DOUBLE / n20, s21::DOUBLE / n21, s22::DOUBLE / n22, s23::DOUBLE / n23, s24::DOUBLE / n24, s25::DOUBLE / n25, s26::DOUBLE / n26, s27::DOUBLE / n27, s28::DOUBLE / n28, s29::DOUBLE / n29, s30::DOUBLE / n30, s31::DOUBLE / n31, s32::DOUBLE / n32, s33::DOUBLE / n33, s34::DOUBLE / n34, s35::DOUBLE / n35, s36::DOUBLE / n36, s37::DOUBLE / n37, s38::DOUBLE / n38, s39::DOUBLE / n39, s40::DOUBLE / n40, s41::DOUBLE / n41, s42::DOUBLE / n42, s43::DOUBLE / n43, s44::DOUBLE / n44, s45::DOUBLE / n45, s46::DOUBLE / n46, s47::DOUBLE / n47, s48::DOUBLE / n48, s49::DOUBLE / n49, s50::DOUBLE / n50, s51::DOUBLE / n51, s52::DOUBLE / n52, s53::DOUBLE / n53, s54::DOUBLE / n54, s55::DOUBLE / n55, s56::DOUBLE / n56, s57::DOUBLE / n57, s58::DOUBLE / n58, s59::DOUBLE / n59]) AS ms\n         FROM g\n       )\n       SELECT n_all AS n,\n              CAST(60 AS BIGINT) AS n_resamples,\n              CAST(floor(s_all::DOUBLE / n_all * 10000) AS BIGINT) AS mean_e4,\n              CAST(floor((s_all::DOUBLE / n_all\n                          - (s_all::DOUBLE / n_all - ms[2]) / sqrt(2.0))\n                         * 10000) AS BIGINT) AS ci_lo_e4,\n              CAST(floor((s_all::DOUBLE / n_all\n                          + (ms[59] - s_all::DOUBLE / n_all) / sqrt(2.0))\n                         * 10000) AS BIGINT) AS ci_hi_e4\n       FROM m"


@register(
    "q_bootstrap_ci",
    _hsr_oracle(),
    "HALF-SAMPLE REPLICATION confidence interval for mean purchase spend "
    "— the deterministic, engine-portable stand-in for the bootstrap: "
    "replicate r (r < 60) is the half-sample selected by bit r of an "
    "md5-derived 60-bit row hash (the q_group_kfold portability "
    "precedent), so membership is a pure function of event_id on both "
    "engines — no RNG, no resampling pass. The spread of the 60 "
    "half-sample means estimates the sampling error (a half-sample mean "
    "has ~2x the variance of the full mean, hence the 1/sqrt(2) shrink "
    "of the [2.5%, 97.5%] percentile band around the full mean — the "
    "classic random-groups estimator). ALL 60 replicate sums land in "
    "ONE scan as conditional aggregates (map-side combined, constant "
    "state — no 60x fan-out, no second pass), the percentile pick is "
    "an array_sort over 60 doubles in a 1-row frame, and every mean is "
    "an exact-BIGINT / exact-BIGINT division -> bit-identical doubles "
    "cross-engine. Shape: one events scan -> 1 row x (2*60+2) exact "
    "integer aggregates -> scalar arithmetic; this is a single "
    "map-side-combined pass, the same cost as one count(*).",
)
def q_bootstrap_ci(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = ev.select(h.alias("h"), cents(F.col("value")).alias("c"))
    aggs = [
        F.sum("c").alias("s_all"),
        F.count(F.lit(1)).alias("n_all"),
    ]
    for r in range(_HSR_B):
        bit = F.expr(f"(h div {1 << r}) % 2")
        aggs.append(F.sum(F.col("c") * bit).alias(f"s{r}"))
        aggs.append(F.sum(bit).alias(f"n{r}"))
    g = base.agg(*aggs)
    means = [
        F.col(f"s{r}").cast("double") / F.col(f"n{r}")
        for r in range(_HSR_B)
    ]
    ms = F.array_sort(F.array(*means))
    mean = F.col("s_all").cast("double") / F.col("n_all")
    lo = F.element_at(ms, 2)
    hi = F.element_at(ms, _HSR_B - 1)
    rt2 = F.sqrt(F.lit(2.0))
    return g.select(
        F.col("n_all").alias("n"),
        F.lit(_HSR_B).cast("long").alias("n_resamples"),
        F.floor(mean * 10000).cast("long").alias("mean_e4"),
        F.floor((mean - (mean - lo) / rt2) * 10000)
        .cast("long")
        .alias("ci_lo_e4"),
        F.floor((mean + (hi - mean) / rt2) * 10000)
        .cast("long")
        .alias("ci_hi_e4"),
    )


# =========================================================================
# Isotonic calibration — PAV via the max-min identity
# over a bounded bin domain (completes the calibration family:
# q_calibration_bins / q_ece / q_brier_score)
# =========================================================================


@register(
    "q_isotonic_calibrate",
    """WITH sc AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS c,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) FILTER (WHERE event_type = 'purchase')
                     AS BIGINT) AS pos
         FROM events GROUP BY c
       ), mx AS (SELECT max(c) AS mc FROM sc),
       bins AS (
         SELECT ((c * 1000000 // (mc + 1)) * 200) // 1000000 AS bin,
                CAST(sum(n) AS BIGINT) AS n,
                CAST(sum(pos) AS BIGINT) AS pos
         FROM sc, mx GROUP BY bin
       ), cum AS (
         SELECT bin, n, pos,
                CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
         FROM bins
       ), pairs AS (
         SELECT i.bin AS bi, j.bin AS bj,
                (j.cp - (i.cp - i.pos))::DOUBLE
                / (j.cn - (i.cn - i.n)) AS avg_ij
         FROM cum i, cum j WHERE i.bin <= j.bin
       ), rm AS (
         SELECT bi, bj,
                min(avg_ij) OVER (PARTITION BY bi ORDER BY bj DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS m
         FROM pairs
       ), fit AS (
         SELECT bj AS bin, max(m) AS fitted FROM rm GROUP BY bj
       )
       SELECT b.bin AS bin, b.n AS n, b.pos AS pos,
              (b.pos * 1000000) // b.n AS raw_ppm,
              CAST(floor(f.fitted * 1000000) AS BIGINT) AS fitted_ppm
       FROM bins b JOIN fit f ON b.bin = f.bin""",
    "ISOTONIC CALIBRATION (pool-adjacent-violators) of the purchase rate "
    "against the normalized spend score, computed via the minimax "
    "identity fitted(k) = max_{i<=k} min_{j>=k} avg(pos over bins i..j) "
    "— the closed form of PAV that needs no sequential pooling loop, so "
    "it distributes. The score is compressed to a 200-bin domain first "
    "(distinct-cents agg -> ppm normalize -> bin), so the O(B^2) pair "
    "frame is a CONSTANT ~20k rows regardless of corpus size — the "
    "binned-isotonic contract every large-scale calibrator uses; the "
    "fit is exact over the binned rates (prefix sums are exact BIGINTs, "
    "each interval average is one exact-int/exact-int division -> "
    "bit-identical doubles, min/max over identical double sets are "
    "identical). Completes the calibration family next to "
    "q_calibration_bins (reliability table), q_ece (summary), and "
    "q_brier_score (proper score); output is monotone in the bin by "
    "construction. Shape: one events scan -> value-domain agg -> 200-row "
    "bin agg -> bounded pair join + two domain windows -> <=200 rows.",
)
def q_isotonic_calibrate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    sc = (
        ev.select(cents(F.col("value")).alias("c"), pos.alias("p"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("pos"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bins = (
        sc.withColumn("mc", F.max("c").over(w_all))
        .select(
            F.expr("((c * 1000000 div (mc + 1)) * 200) div 1000000").alias(
                "bin"
            ),
            "n",
            "pos",
        )
        .groupBy("bin")
        .agg(F.sum("n").alias("n"), F.sum("pos").alias("pos"))
    )
    # Three consumers (both pair sides + the output join) of a <=200-row
    # frame: materialize once so events are scanned exactly once.
    bins = bins.localCheckpoint()
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("pos").over(w_cum).alias("cp"),
    )
    i = cum.select(
        F.col("bin").alias("bi"),
        (F.col("cp") - F.col("pos")).alias("lo_p"),
        (F.col("cn") - F.col("n")).alias("lo_n"),
    )
    j = cum.select(
        F.col("bin").alias("bj"),
        F.col("cp").alias("hi_p"),
        F.col("cn").alias("hi_n"),
    )
    pairs = i.join(F.broadcast(j), F.col("bi") <= F.col("bj")).select(
        "bi",
        "bj",
        (
            (F.col("hi_p") - F.col("lo_p")).cast("double")
            / (F.col("hi_n") - F.col("lo_n"))
        ).alias("avg_ij"),
    )
    w_rm = Window.partitionBy("bi").orderBy(F.desc("bj")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rm = pairs.select("bj", F.min("avg_ij").over(w_rm).alias("m"))
    fit = rm.groupBy("bj").agg(F.max("m").alias("fitted"))
    return (
        bins.join(fit, bins["bin"] == fit["bj"])
        .select(
            "bin",
            "n",
            "pos",
            F.expr("(pos * 1000000) div n").alias("raw_ppm"),
            F.floor(F.col("fitted") * 1000000)
            .cast("long")
            .alias("fitted_ppm"),
        )
    )


# =========================================================================
# Quantile normalization — force each group's value
# distribution onto the cross-group average quantile profile
# =========================================================================


@register(
    "q_quantile_normalize",
    """WITH r AS (
         SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS c,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY CAST(round(value * 100)
                                                 AS BIGINT), event_id)
                    AS rk,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                    AS nt
         FROM events
       ), binned AS (
         SELECT event_id, event_type, c,
                ((rk - 1) * 100) // nt AS bin
         FROM r
       ), gm AS (
         SELECT event_type, bin,
                (sum(c) * 1000000) // count(*) AS m_e6
         FROM binned GROUP BY event_type, bin
       ), prof AS (
         SELECT bin,
                CAST(sum(m_e6) // count(*) AS BIGINT) AS norm_e6
         FROM gm GROUP BY bin
       )
       SELECT b.event_id, b.event_type, b.c AS cents,
              CAST(b.bin AS BIGINT) AS bin, p.norm_e6
       FROM binned b JOIN prof p ON b.bin = p.bin""",
    "QUANTILE NORMALIZATION of per-event spend across event types — the "
    "distribution-forcing feature transform (microarray-normalization "
    "classic, now standard for cross-source feature alignment in "
    "training-data pipelines): each row is mapped to the cross-group "
    "AVERAGE value at its own within-group quantile, so every group ends "
    "up with an identical marginal distribution while preserving "
    "within-group rank order. Within-group rank is the scale-safe "
    "distributed row number (global_row_number over (type, value, id) "
    "minus a broadcast per-type offset — NO per-type single-partition "
    "window sort); 100 quantile bins bound the profile frame at "
    "|types| x 100 rows; the profile itself is all exact integer "
    "arithmetic (scaled-e6 per-(type,bin) means via BIGINT div, then an "
    "exact integer average across types — no float-sum order hazard). "
    "Shape: one events scan -> range-partitioned rank -> (type,bin) agg "
    "-> 100-row broadcast profile joined back -> row-level output.",
)
def q_quantile_normalize(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import (
        global_row_number,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("c")
    )
    # Scale-safe within-type rank: a GLOBAL distributed row number over
    # (type, c, id) — types are contiguous under that order — minus the
    # type's broadcast min-rank offset. Equivalent to row_number() OVER
    # (PARTITION BY type ORDER BY c, id) without the per-type sort window.
    g = global_row_number(
        ev, ["event_type", "c", "event_id"], out_col="__rn"
    )
    offs = g.groupBy("event_type").agg(
        F.min("__rn").alias("__o"), F.count(F.lit(1)).alias("nt")
    )
    binned = (
        g.join(F.broadcast(offs), "event_type")
        .select(
            "event_id",
            "event_type",
            "c",
            F.expr("((__rn - __o) * 100) div nt").alias("bin"),
        )
    )
    gm = binned.groupBy("event_type", "bin").agg(
        F.expr("(sum(c) * 1000000) div count(*)").alias("m_e6")
    )
    prof = gm.groupBy("bin").agg(
        F.expr("sum(m_e6) div count(*)").alias("norm_e6")
    )
    return binned.join(F.broadcast(prof), "bin").select(
        "event_id",
        "event_type",
        F.col("c").alias("cents"),
        F.col("bin").cast("long").alias("bin"),
        "norm_e6",
    )


# =========================================================================
# F1-optimal decision threshold — the sweep that turns
# a scored classifier into a deployed one
# =========================================================================


@register(
    "q_f1_threshold",
    """WITH sc AS (
         SELECT CAST(round(value * 100) AS BIGINT) AS c,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) FILTER (WHERE event_type = 'purchase')
                     AS BIGINT) AS pos
         FROM events GROUP BY c
       ), cum AS (
         SELECT c,
                CAST(sum(pos) OVER (ORDER BY c DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS tp,
                CAST(sum(n) OVER (ORDER BY c DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS pp,
                CAST(sum(pos) OVER () AS BIGINT) AS p
         FROM sc
       )
       SELECT c AS threshold_cents,
              tp, (pp - tp) AS fp, (p - tp) AS fn,
              CAST(floor(2.0 * tp / (pp + p) * 1000000) AS BIGINT)
                  AS f1_e6
       FROM cum
       ORDER BY 2.0 * tp / (pp + p) DESC, c
       LIMIT 1""",
    "F1-OPTIMAL DECISION THRESHOLD sweep: evaluate F1 at EVERY distinct "
    "score cut ('predict positive iff score >= c') in one pass and "
    "return the best — the step that turns q_auc_roc's ranking eval "
    "into a deployable classifier (threshold picking is where offline "
    "eval meets production). The sweep needs NO per-threshold rescan: "
    "over the distinct-cents compression, TP and predicted-positive "
    "counts at every cut are one descending cumulative window, and the "
    "identity F1 = 2TP/(2TP+FP+FN) = 2TP/(PP+P) makes each candidate "
    "one exact-int division -> identical doubles -> identical argmax "
    "(ties broken toward the lower threshold = higher recall). Shape: "
    "one events scan -> value-domain agg -> ONE cumulative window over "
    "the bounded domain -> TakeOrderedAndProject top-1.",
)
def q_f1_threshold(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pos = (F.col("event_type") == "purchase").cast("long")
    sc = (
        ev.select(cents(F.col("value")).alias("c"), pos.alias("p"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("pos"))
    )
    w_desc = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sc.select(
        "c",
        F.sum("pos").over(w_desc).alias("tp"),
        F.sum("n").over(w_desc).alias("pp"),
        F.sum("pos").over(w_all).alias("p"),
    )
    f1 = 2.0 * F.col("tp") / (F.col("pp") + F.col("p"))
    g = cum.select(
        F.col("c").alias("threshold_cents"),
        "tp",
        (F.col("pp") - F.col("tp")).alias("fp"),
        (F.col("p") - F.col("tp")).alias("fn"),
        f1.alias("__f1"),
        F.floor(f1 * 1000000).cast("long").alias("f1_e6"),
    )
    return (
        g.orderBy(F.desc("__f1"), F.asc("threshold_cents"))
        .limit(1)
        .drop("__f1")
    )


# =========================================================================
# Two-sample Poisson rate test — the COUNT-based A/B
# readout completing the battery (means: Welch; distributions:
# Mann-Whitney; effect size: Cohen's d; rates: this)
# =========================================================================


@register(
    "q_poisson_rate_test",
    """WITH g AS (
         SELECT CAST(count(*) FILTER (WHERE event_type = 'purchase')
                     AS BIGINT) AS n1,
                CAST(count(*) FILTER (WHERE event_type = 'error')
                     AS BIGINT) AS n2,
                epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
         FROM events WHERE event_type IN ('purchase', 'error')
       )
       SELECT n1, n2,
              CAST(span_us AS BIGINT) AS span_us,
              (n1 * 1000000) // nullif(n2, 0) AS rate_ratio_e6,
              CAST(floor((n1 - n2) / sqrt(n1 + n2) * 1000000) AS BIGINT)
                  AS z_e6,
              abs((n1 - n2) / sqrt(n1 + n2)) > 1.96 AS significant_05
       FROM g""",
    "TWO-SAMPLE POISSON RATE TEST (conditional test, normal "
    "approximation): are purchases and errors arriving at the same "
    "rate over the shared exposure window? z = (n1-n2)/sqrt(n1+n2) — "
    "the COUNT-based member of the A/B battery (q_welch_ttest compares "
    "means, q_mann_whitney distributions, q_cohens_d effect size; rate "
    "comparisons over equal exposure are the fourth standard readout). "
    "Both counts and the exposure span are EXACT integers from ONE "
    "map-side-combined conditional aggregate; z is one identical "
    "-,+,/,sqrt tree per engine. The rate ratio is an exact integer "
    "div. Shape: one events scan -> 1-row agg -> scalar arithmetic; "
    "the cheapest possible test at any scale.",
)
def q_poisson_rate_test(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    us = F.unix_micros(F.col("ts"))
    g = ev.agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n1"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n2"),
        (F.max(us) - F.min(us)).alias("span_us"),
    )
    z = (F.col("n1") - F.col("n2")) / F.sqrt(F.col("n1") + F.col("n2"))
    return g.select(
        "n1",
        "n2",
        F.col("span_us").cast("long").alias("span_us"),
        F.expr("(n1 * 1000000) div nullif(n2, 0)").alias("rate_ratio_e6"),
        F.floor(z * 1000000).cast("long").alias("z_e6"),
        (F.abs(z) > 1.96).alias("significant_05"),
    )


# =========================================================================
# Product-quantization code assignment — the PQ member of the
# ANN family (q_cosine_topk brute-force, q_ann_ivf partition pruning,
# q_lsh_hyperplane bucketing, this compresses vectors to subspace codes)
# =========================================================================


@register(
    "q_pq_assign",
    """WITH cb AS (
         SELECT vec_id AS cid, embedding AS ce
         FROM embeddings WHERE vec_id < 8
       ), d AS (
         SELECT v.vec_id, s.s, cb.cid,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                              * 1000000) AS BIGINT)
                   - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT))
                  * (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT)
                     - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                  * 1000000) AS BIGINT)))) AS BIGINT) AS dist
         FROM embeddings v
         CROSS JOIN cb
         CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
       ), k AS (
         SELECT vec_id, s, min(dist * 8 + cid) AS kk
         FROM d GROUP BY vec_id, s
       )
       SELECT vec_id,
              CAST(max(CASE WHEN s = 0 THEN kk % 8 END) AS BIGINT) AS c0,
              CAST(max(CASE WHEN s = 1 THEN kk % 8 END) AS BIGINT) AS c1,
              CAST(max(CASE WHEN s = 2 THEN kk % 8 END) AS BIGINT) AS c2,
              CAST(max(CASE WHEN s = 3 THEN kk % 8 END) AS BIGINT) AS c3,
              CAST(sum(kk // 8) AS BIGINT) AS err
       FROM k GROUP BY vec_id""",
    "PRODUCT QUANTIZATION code assignment (Jegou et al., PQ for nearest "
    "neighbor search): the 64-dim embedding splits into 4 subspaces of "
    "16 dims; each subspace is assigned the nearest of 8 codebook "
    "centroids, compressing the vector to 4 x 3 bits + a per-vector "
    "reconstruction error — the memory layout every billion-scale ANN "
    "index (IVF-PQ) stores instead of raw floats. Codebook = the 8 "
    "lowest-vec_id embeddings (the deterministic seeded-fit twin of a "
    "per-subspace k-means; the IVF key owns the sampled-kmeans fit "
    "path). ALL arithmetic is exact int64: components scale to e6 via "
    "round() on BOTH legs, subspace distance is a sum of 16 integer "
    "squares (< 2^46, no overflow), and argmin is the encoded key "
    "min(dist*8 + cid) — deterministic tie-break toward the lower "
    "centroid id, decoded with %/div, never a float comparison. "
    "Shape: one bounded fit-side collect (8 codebook rows, the IVF "
    "pattern) closed over a vectorized mapInArrow kernel (the "
    "operators/pca.py linalg pattern): per Arrow batch, numpy computes "
    "all 4x8 integer subspace distances as one int64 broadcasted "
    "(n,8,16) op — no join, no shuffle, one narrow map. A pure-JVM "
    "array-lambda twin was measured first and REJECTED: higher-order "
    "functions do not enter whole-stage codegen, so the 4x8x16 "
    "interpreted closure cost ~0.4 ms/row (61 s at the 64x octave); "
    "the Arrow kernel amortizes to C-speed SIMD. Scaling uses "
    "half-away-from-zero rounding to match round() on both engine "
    "legs; exact halves cannot occur (x*1e6 = (2k+1)/2 requires a "
    "factor 5^6 denominator no binary float has), so floor(v+0.5) is "
    "bit-identical to either tie rule. The codebook "
    "broadcast is bytes and the scan stays embarrassingly parallel.",
)
def q_pq_assign(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    csub = pq.subspace_codebook(
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    return pq.pq_codes(emb, csub)


@register(
    "q_ann_pq_search",
    """WITH cb AS (
         SELECT vec_id AS cid, embedding AS ce
         FROM embeddings WHERE vec_id < 8
       ), qv AS (
         SELECT embedding AS qe FROM embeddings WHERE vec_id = 450
       ), d AS (
         SELECT v.vec_id, s.s, cb.cid,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                              * 1000000) AS BIGINT)
                   - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT))
                  * (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT)
                     - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                  * 1000000) AS BIGINT)))) AS BIGINT) AS dist
         FROM embeddings v
         CROSS JOIN cb
         CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
       ), k AS (
         SELECT vec_id, s, min(dist * 8 + cid) AS kk
         FROM d GROUP BY vec_id, s
       ), lut AS (
         SELECT s.s, cb.cid,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (CAST(round(CAST(qv.qe[s.s * 16 + i] AS DOUBLE)
                              * 1000000) AS BIGINT)
                   - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT))
                  * (CAST(round(CAST(qv.qe[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT)
                     - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                  * 1000000) AS BIGINT)))) AS BIGINT) AS d
         FROM cb CROSS JOIN qv
         CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
       ), adc AS (
         SELECT k.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
         FROM k JOIN lut l ON l.s = k.s AND l.cid = k.kk % 8
         GROUP BY k.vec_id
       )
       SELECT vec_id, adc_dist FROM adc
       ORDER BY adc_dist, vec_id LIMIT 10""",
    "ADC (asymmetric distance computation) top-10 search over the PQ-"
    "compressed table — the query kernel of an IVF-PQ index and the "
    "companion of q_pq_assign: the query vector's exact int64 squared-L2 "
    "distance to each of the 8 centroids is precomputed per subspace "
    "(a 4x8 lookup table, bytes), and every row's approximate distance "
    "is FOUR element_at lookups on that folded literal summed — the "
    "compressed scan never touches raw floats. The query is the "
    "embedding of vec_id 450, collected once driver-side (one row — "
    "'the query', not data movement) exactly like q_cosine_topk's; the "
    "LUT sum is exact int64 so the ranking is bit-identical to the "
    "oracle's full recomputation, with ties broken by vec_id. Shape: "
    "codes via the shared mapInArrow kernel (operators/pq.py), then a "
    "scan-side JVM projection + TakeOrderedAndProject — no join, no "
    "shuffle beyond the top-k merge; the LUT build is O(k*D) "
    "on the driver and the scan reads 4 codes/row instead of 64 "
    "floats (the 16-64x bandwidth win that makes PQ worth it).",
)
def q_ann_pq_search(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    csub = pq.subspace_codebook(
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    q_row = (
        emb.filter(F.col("vec_id") == 450).select("embedding").first()
    )
    lut = pq.adc_lut([float(x) for x in q_row[0]], csub)
    codes = pq.pq_codes(emb, csub)
    adc = sum(
        F.element_at(
            F.expr(
                "array(" + ",".join(str(int(v)) + "L" for v in lut[s]) + ")"
            ),
            F.col(f"c{s}").cast("int") + 1,
        )
        for s in range(4)
    )
    return (
        codes.select("vec_id", adc.cast("long").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@register(
    "q_pq_recall",
    """WITH cb AS (
         SELECT vec_id AS cid, embedding AS ce
         FROM embeddings WHERE vec_id < 8
       ), iv AS (
         SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                    AS v
         FROM embeddings
       ), q AS (
         SELECT vec_id AS qid, v AS qv FROM iv WHERE vec_id % 50 = 0
       ), exd AS (
         SELECT q.qid, t.vec_id AS tid,
                CAST(list_sum(list_transform(range(1, 65), i ->
                  (t.v[i] - q.qv[i]) * (t.v[i] - q.qv[i])))
                     AS BIGINT) AS d
         FROM iv t CROSS JOIN q
         WHERE t.vec_id <> q.qid
       ), ex AS (
         SELECT qid, tid FROM (
           SELECT qid, tid,
                  row_number() OVER (PARTITION BY qid ORDER BY d, tid) AS rn
           FROM exd)
         WHERE rn <= 10
       ), dd AS (
         SELECT v.vec_id, s.s, cb.cid,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                              * 1000000) AS BIGINT)
                   - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT))
                  * (CAST(round(CAST(v.embedding[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT)
                     - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                  * 1000000) AS BIGINT)))) AS BIGINT) AS dist
         FROM embeddings v
         CROSS JOIN cb
         CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
       ), k AS (
         SELECT vec_id, s, min(dist * 8 + cid) AS kk
         FROM dd GROUP BY vec_id, s
       ), lut AS (
         SELECT q.qid, s.s, cb.cid,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (q.qv[s.s * 16 + i]
                   - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                * 1000000) AS BIGINT))
                  * (q.qv[s.s * 16 + i]
                     - CAST(round(CAST(cb.ce[s.s * 16 + i] AS DOUBLE)
                                  * 1000000) AS BIGINT)))) AS BIGINT) AS d
         FROM cb CROSS JOIN q
         CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
       ), adc AS (
         SELECT l.qid, k.vec_id AS tid, CAST(sum(l.d) AS BIGINT) AS d
         FROM k JOIN lut l ON l.s = k.s AND l.cid = k.kk % 8
         WHERE k.vec_id <> l.qid
         GROUP BY l.qid, k.vec_id
       ), ap AS (
         SELECT qid, tid FROM (
           SELECT qid, tid,
                  row_number() OVER (PARTITION BY qid ORDER BY d, tid) AS rn
           FROM adc)
         WHERE rn <= 10
       )
       SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_queries,
              CAST(10 AS BIGINT) AS k,
              CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact_pairs,
              CAST(count(*) AS BIGINT) AS hits,
              CAST(count(*) * 1000000
                   // (SELECT count(*) FROM ex) AS BIGINT) AS recall_ppm
       FROM ex JOIN ap USING (qid, tid)""",
    "PQ-ADC RECALL@10 — the fully VALUE-CHECKED accuracy attestation "
    "for the PQ family (q_ann_recall's role for IVF, but stronger: "
    "both legs are deterministic exact-integer computations, so the "
    "recall itself hash-checks — no boolean attestation needed). For "
    "the 2% query set (vec_id % 50 = 0), the exact leg ranks ALL "
    "candidates by full 64-dim int64 squared-L2 and the ADC leg ranks "
    "by the 4-subspace code-table distance; recall_ppm is their "
    "top-10 overlap. One vectorized mapInArrow kernel emits BOTH "
    "distances for every (query, candidate) pair in a single "
    "embeddings pass (numpy matrix ops over the broadcast query "
    "block, operators/pq.py), then two rank windows partitioned by "
    "query and one join count the hits. Scale: the pair frame is "
    "N x |Q| — the q_knn_classify broadcast-query contract (|Q| "
    "FIXED; large query sets route through the IVF+PQ index itself, "
    "which is the point of measuring its recall).",
)
def q_pq_recall(spark, sf_dir):
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import Window as W

    from real_time_rides_data_pipeline_spark.operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    csub = pq.subspace_codebook(
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    q_rows = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    q_rows = sorted(q_rows, key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qint = pq.half_away_e6([list(r.embedding) for r in q_rows])  # (Q, 64)
    # (Q, n_sub, k) ADC tables, one per query
    luts = np.stack([pq.adc_lut(list(r.embedding), csub) for r in q_rows])

    def both(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            tids = np.asarray(b.column(0), dtype=np.int64)
            raw = np.asarray(
                b.column(1).flatten(), dtype=np.float64
            ).reshape(n, 64)
            vs = pq.half_away_e6(raw)  # (n, 64)
            # exact: (n, Q) int64 squared L2
            diff = vs[:, None, :] - qint[None, :, :]
            exd = (diff * diff).sum(axis=2)
            # ADC: codes per subspace -> LUT gather per query
            vsub = vs.reshape(n, 4, 16)
            adc = np.zeros((n, len(qids)), dtype=np.int64)
            for s in range(4):
                d = ((vsub[:, None, s, :] - csub[None, :, s, :]) ** 2).sum(
                    axis=2
                )
                keys = d * 8 + np.arange(8, dtype=np.int64)[None, :]
                code = (keys.min(axis=1) % 8).astype(np.int64)  # (n,)
                adc += luts[:, s, :][:, code].T  # (n, Q)
            nq = len(qids)
            yield pa.RecordBatch.from_pydict(
                {
                    "qid": np.repeat(qids[None, :], n, axis=0).ravel(),
                    "tid": np.repeat(tids, nq),
                    "exd": exd.ravel(),
                    "adc": adc.ravel(),
                }
            )

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInArrow(both, "qid long, tid long, exd long, adc long")
        .filter(F.col("tid") != F.col("qid"))
    )
    w_ex = W.partitionBy("qid").orderBy("exd", "tid")
    w_ap = W.partitionBy("qid").orderBy("adc", "tid")
    ranked = pairs.select(
        "qid",
        "tid",
        F.row_number().over(w_ex).alias("rn_ex"),
        F.row_number().over(w_ap).alias("rn_ap"),
    )
    ex = ranked.filter(F.col("rn_ex") <= 10).select("qid", "tid")
    ap = ranked.filter(F.col("rn_ap") <= 10).select("qid", "tid")
    hits = ex.join(ap, ["qid", "tid"]).agg(
        F.count(F.lit(1)).alias("hits")
    )
    # n_queries from `ex`, not `pairs`: every qid with >= 1 candidate
    # keeps >= 1 top-10 row, so distinct(ex.qid) == distinct(pairs.qid)
    # — and ex's subtree shares the ranked window's exchange, where a
    # second reference to `pairs` re-ran the whole numpy mapInArrow
    # pass (no exchange below it to reuse).
    totals = ex.agg(F.count(F.lit(1)).alias("n_exact_pairs")).crossJoin(
        F.broadcast(
            ex.select("qid").distinct().agg(
                F.count(F.lit(1)).alias("n_queries")
            )
        )
    )
    return (
        F.broadcast(totals)
        .crossJoin(hits)
        .select(
            "n_queries",
            F.lit(10).cast("long").alias("k"),
            "n_exact_pairs",
            F.col("hits").cast("long").alias("hits"),
            F.expr("hits * 1000000 div n_exact_pairs").alias("recall_ppm"),
        )
    )


# =========================================================================
# Matryoshka (prefix-dimension) truncation recall
# =========================================================================


@register(
    "q_mrl_truncate_recall",
    """WITH iv AS (
         SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                    AS v
         FROM embeddings
       ), q AS (
         SELECT vec_id AS qid, v AS qv FROM iv WHERE vec_id % 50 = 0
         ORDER BY vec_id LIMIT 64
       ), d AS (
         SELECT q.qid, t.vec_id AS tid,
                CAST(list_sum(list_transform(range(1, 65), i ->
                  (t.v[i] - q.qv[i]) * (t.v[i] - q.qv[i])))
                     AS BIGINT) AS dfull,
                CAST(list_sum(list_transform(range(1, 17), i ->
                  (t.v[i] - q.qv[i]) * (t.v[i] - q.qv[i])))
                     AS BIGINT) AS dpre
         FROM iv t CROSS JOIN q
         WHERE t.vec_id <> q.qid
       ), ex AS (
         SELECT qid, tid FROM (
           SELECT qid, tid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY dfull, tid) AS rn
           FROM d)
         WHERE rn <= 10
       ), ap AS (
         SELECT qid, tid FROM (
           SELECT qid, tid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY dpre, tid) AS rn
           FROM d)
         WHERE rn <= 10
       )
       SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_queries,
              CAST(10 AS BIGINT) AS k,
              CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact_pairs,
              CAST(count(*) AS BIGINT) AS hits,
              CAST(count(*) * 1000000
                   // (SELECT count(*) FROM ex) AS BIGINT) AS recall_ppm
       FROM ex JOIN ap USING (qid, tid)""",
    "MATRYOSHKA truncation recall@10 (Kusupati et al., MRL): rank by the "
    "FIRST-16-of-64 prefix dimensions — the representation trick serving "
    "stacks use to cut vector memory/bandwidth 4x by storing a nested "
    "prefix of the embedding — and measure top-10 overlap against the "
    "full 64-dim exact ranking. The q_pq_recall contract exactly: both "
    "legs are deterministic exact-int64 computations (e6-scaled "
    "components, squared-L2 sums, ties by tid), so the recall itself "
    "hash-checks — this key is the accuracy attestation for prefix "
    "truncation the way q_pq_recall attests code compression and "
    "q_ann_recall attests IVF pruning (and its honest counterpart: on "
    "non-MRL-trained synthetic embeddings the measured recall is the "
    "floor you accept by truncating naively). Shape: ONE vectorized "
    "mapInArrow pass emits BOTH distances per (query, candidate) pair — "
    "the prefix distance is a free partial sum of the full one — then "
    "two qid-partitioned rank windows and a join count the overlap; "
    "broadcast-|Q| contract as the whole recall family (large |Q| "
    "routes through the index itself).",
)
def q_mrl_truncate_recall(spark, sf_dir):
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import Window as W

    from real_time_rides_data_pipeline_spark.operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    # Query set BOUNDED at 64 (first by vec_id): the unbounded % 50 slice
    # grows linearly with the corpus, so the collect below would too —
    # the cap keeps the driver-side query set a fixed-size constant at
    # any corpus scale, mirroring q_knn_classify's broadcast-|Q| contract
    # (the oracle carries the same ORDER BY/LIMIT).
    q_rows = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(64)
        .collect()
    )
    q_rows = sorted(q_rows, key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qint = pq.half_away_e6([list(r.embedding) for r in q_rows])  # (Q, 64)

    def both(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            tids = np.asarray(b.column(0), dtype=np.int64)
            raw = np.asarray(
                b.column(1).flatten(), dtype=np.float64
            ).reshape(n, 64)
            vs = pq.half_away_e6(raw)  # (n, 64)
            diff = vs[:, None, :] - qint[None, :, :]  # (n, Q, 64)
            sq = diff * diff
            dpre = sq[:, :, :16].sum(axis=2)  # prefix = partial sum
            dfull = dpre + sq[:, :, 16:].sum(axis=2)
            nq = len(qids)
            yield pa.RecordBatch.from_pydict(
                {
                    "qid": np.repeat(qids[None, :], n, axis=0).ravel(),
                    "tid": np.repeat(tids, nq),
                    "dfull": dfull.ravel(),
                    "dpre": dpre.ravel(),
                }
            )

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInArrow(both, "qid long, tid long, dfull long, dpre long")
        .filter(F.col("tid") != F.col("qid"))
    )
    w_ex = W.partitionBy("qid").orderBy("dfull", "tid")
    w_ap = W.partitionBy("qid").orderBy("dpre", "tid")
    ranked = pairs.select(
        "qid",
        "tid",
        F.row_number().over(w_ex).alias("rn_ex"),
        F.row_number().over(w_ap).alias("rn_ap"),
    )
    ex = ranked.filter(F.col("rn_ex") <= 10).select("qid", "tid")
    ap = ranked.filter(F.col("rn_ap") <= 10).select("qid", "tid")
    hits = ex.join(ap, ["qid", "tid"]).agg(F.count(F.lit(1)).alias("hits"))
    # n_queries from `ex`, not `pairs` — same rationale as q_pq_recall:
    # identical distinct-qid set, and it reuses the ranked window's
    # exchange instead of re-running the mapInArrow distance pass.
    totals = ex.agg(F.count(F.lit(1)).alias("n_exact_pairs")).crossJoin(
        F.broadcast(
            ex.select("qid")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_queries"))
        )
    )
    return (
        F.broadcast(totals)
        .crossJoin(hits)
        .select(
            "n_queries",
            F.lit(10).cast("long").alias("k"),
            "n_exact_pairs",
            F.col("hits").cast("long").alias("hits"),
            F.expr("hits * 1000000 div n_exact_pairs").alias("recall_ppm"),
        )
    )


# =========================================================================
# CUPED variance reduction (experimentation platform op)
# =========================================================================


@register(
    "q_cuped_adjust",
    """WITH u AS (
         SELECT user_id,
                CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-08')
                     AS BIGINT) AS x,
                CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-08')
                     AS BIGINT) AS y
         FROM events GROUP BY user_id
       ), m AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(y * y) AS BIGINT) AS syy
         FROM u
       ), v AS (
         -- widen BEFORE the n*moment products: n * sxy etc. overflow
         -- int64 at scale, where DuckDB would raise but non-ANSI Spark
         -- silently wraps — HUGEINT here keeps both legs exact and
         -- failure-mode-aligned
         SELECT n, sx, sy,
                CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
                CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx,
                CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary
         FROM m
       )
       SELECT n AS n_users, sx AS sum_pre, sy AS sum_post,
              CAST(CASE WHEN num >= 0
                        THEN (num * 1000000) // nullif(varx, 0)
                        ELSE -((-num * 1000000) // nullif(varx, 0)) END
                   AS BIGINT) AS theta_e6,
              CAST((num * num * 1000000)
                   // nullif(varx * vary, 0) AS BIGINT)
                  AS var_reduction_ppm
       FROM v""",
    "CUPED variance reduction (Deng et al. 2013) — the experimentation-"
    "platform adjustment every A/B system applies before reading a "
    "treatment effect: regress each user's POST-period metric on their "
    "PRE-period metric (theta = cov(x,y)/var(x)) and subtract the "
    "predictable component; the variance removed is exactly rho² = "
    "cov²/(var_x·var_y), reported in exact ppm. Metric = per-user event "
    "counts around the fixed 2024-01-08 cutoff (counts keep every "
    "moment small-integer — the q_corr_exact exact-sums discipline, "
    "safe past the 512x octave). theta is emitted in e6 via the "
    "q_mcc DECIMAL(38,0)/HUGEINT widening with sign split from the "
    "magnitude so both engines' truncating division agree on negative "
    "covariance; zero-variance degenerates to NULL via integer nullif "
    "guards. Shape: ONE user-keyed conditional-count agg (partial-"
    "first) then a 1-row moment fold — the cost is the "
    "per-user agg; the regression itself never sees row data, the "
    "whole point of running CUPED from sufficient statistics.",
)
def q_cuped_adjust(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-08 00:00:00").cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum((F.col("ts") < cut).cast("long")).alias("x"),
        F.sum((F.col("ts") >= cut).cast("long")).alias("y"),
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # Widen BEFORE the n*moment products: raw
    # BIGINT n*sxy etc. overflow int64 at large scale, where the non-ANSI
    # Spark leg would silently wrap while DuckDB errors. DECIMAL(38,0)
    # arithmetic here mirrors the oracle's HUGEINT — overflow degrades to
    # NULL, never a wrapped wrong answer.
    wide = "CAST({} AS DECIMAL(38,0))"
    v = m.select(
        "n",
        "sx",
        "sy",
        F.expr(
            f"{wide.format('n')} * sxy - {wide.format('sx')} * sy"
        ).alias("num"),
        F.expr(
            f"{wide.format('n')} * sxx - {wide.format('sx')} * sx"
        ).alias("varx"),
        F.expr(
            f"{wide.format('n')} * syy - {wide.format('sy')} * sy"
        ).alias("vary"),
    )
    theta = F.expr(
        "CASE WHEN num >= 0"
        " THEN (num * 1000000) div nullif(varx, 0)"
        " ELSE -((-num * 1000000) div nullif(varx, 0)) END"
    )
    rho2 = F.expr("(num * num * 1000000) div nullif(varx * vary, 0)")
    return v.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("sum_pre"),
        F.col("sy").alias("sum_post"),
        theta.cast("long").alias("theta_e6"),
        rho2.cast("long").alias("var_reduction_ppm"),
    )


# =========================================================================
# Experimentation-platform audits (SRM, IPW), feature scaling,
# and generation-eval n-gram metrics
# =========================================================================

#: Engine-portable A/B arm assignment: md5-60-bit(user_id) % 2 — the
#: deterministic hash bucketing a real experimentation platform uses
#: (same portable-hash convention as q_feature_hash / q_group_kfold).
_ARM_SQL = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2"


def _arm_col() -> "F.Column":
    from real_time_rides_data_pipeline_spark.functions.text import md5_int60

    return md5_int60(F.col("user_id").cast("string")) % 2


#: Shared oracle of q_srm_check and its streaming twin q_stream_srm —
#: the merged stream state is exactly the batch counts, so both keys
#: answer to the same SQL.
_SRM_ORACLE = f"""WITH a AS (
         SELECT event_type, {_ARM_SQL} AS arm FROM events
       ), g AS (
         SELECT event_type,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_arm0,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_arm1
         FROM a GROUP BY event_type
       )
       SELECT event_type, n_arm0, n_arm1,
              CAST((CAST(n_arm0 - n_arm1 AS HUGEINT) * (n_arm0 - n_arm1)
                    * 1000000) // (n_arm0 + n_arm1) AS BIGINT) AS chi2_e6,
              (CAST(n_arm0 - n_arm1 AS HUGEINT) * (n_arm0 - n_arm1)
                    * 1000000) // (n_arm0 + n_arm1) > 3841459 AS srm_flag
       FROM g"""


def _srm_partials(df) -> "DataFrame":
    """Per-event_type arm-count partials — the additive sufficient
    statistics both SRM keys reduce to (counts form a commutative
    monoid, which is what makes the streaming twin exact)."""
    arm = _arm_col()
    return df.groupBy("event_type").agg(
        F.sum((arm == 0).cast("long")).alias("n_arm0"),
        F.sum((arm == 1).cast("long")).alias("n_arm1"),
    )


def _srm_from_counts(g) -> "DataFrame":
    """Chi-square + flag from the (event_type, n_arm0, n_arm1) counts."""
    chi2 = F.expr(
        "(CAST(n_arm0 - n_arm1 AS DECIMAL(38,0)) * (n_arm0 - n_arm1)"
        " * 1000000) div (n_arm0 + n_arm1)"
    )
    return g.select(
        "event_type",
        "n_arm0",
        "n_arm1",
        chi2.cast("long").alias("chi2_e6"),
        (chi2 > 3841459).alias("srm_flag"),
    )


@register(
    "q_srm_check",
    _SRM_ORACLE,
    "SAMPLE RATIO MISMATCH audit — the first gate every experimentation "
    "platform runs before reading a treatment effect (Fabijan et al. "
    "2019: a failed SRM invalidates the experiment): users hash into "
    "two arms via the engine-portable md5-60-bit assignment, and the "
    "per-event_type exposure counts are tested against the designed "
    "50/50 split with the exact 1-dof chi-square (n0-n1)^2/(n0+n1) in "
    "integer e6 (widened to HUGEINT/DECIMAL(38,0) BEFORE the square — "
    "the q_cuped_adjust overflow discipline), "
    "flagged at the 3.841459 critical value (p<0.05). Everything is "
    "integer so the flag itself hash-checks. Shape: ONE conditional-"
    "count hash agg (partial-first) over the fact table, then scalar "
    "math on |event_types| rows — the cost is the scan; "
    "the test never materializes per-user rows. Companion to "
    "q_cuped_adjust (variance reduction) as the experimentation family.",
)
def q_srm_check(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _srm_from_counts(_srm_partials(ev))


@register(
    "q_stream_srm",
    _SRM_ORACLE,
    "STREAMING SRM monitor — the experimentation gate RUN ON THE STREAM, "
    "the way a platform actually watches assignment health (an SRM "
    "discovered at readout time has already wasted the experiment): "
    "events replay as a REAL 2-micro-batch stream, each batch aggregates "
    "its per-event_type arm-count PARTIALS (counts are a commutative "
    "monoid — one map-side-combining agg per batch), and foreachBatch "
    "folds them into a parquet counts table by cell-wise addition "
    "(sinks.merge_distributive_parquet — batch_id-marked idempotent under "
    "at-least-once redelivery, crash-ordered swap). The merged counts "
    "are BIT-IDENTICAL to the batch counts, so the final chi-square "
    "answers to the SAME oracle as q_srm_check — the stream≡batch "
    "criterion of SURVEY §5.2.2. This is the q_stream_linreg "
    "contract: per-batch sufficient statistics merged into a "
    "continuously-updated monitor, no re-scan, state = |event_types| "
    "rows.",
)
def q_stream_srm(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    stream, run_dir = replay_stream(
        spark, "srmstream", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=8
    )
    state, ckpt = f"{run_dir}/counts", f"{run_dir}/ckpt"

    def fold(batch_df, batch_id: int) -> None:
        merge_distributive_parquet(
            batch_df.sparkSession,
            _srm_partials(batch_df),
            state,
            keys=("event_type",),
            agg_spec={"n_arm0": "sum", "n_arm1": "sum"},
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(stream, ckpt, fold))
    return _srm_from_counts(
        spark.read.parquet(state).select("event_type", "n_arm0", "n_arm1")
    )


@register(
    "q_ipw_ate",
    f"""WITH a AS (
         SELECT event_type, {_ARM_SQL} AS arm,
                CAST(round(value * 100) AS BIGINT) AS y
         FROM events
       ), g AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_total,
                CAST(sum(arm) AS BIGINT) AS n_treat,
                CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
                    AS y_treat_cents,
                CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
                    AS y_control_cents
         FROM a GROUP BY event_type
       )
       SELECT event_type, n_total, n_treat, y_treat_cents, y_control_cents,
              CAST((CAST(y_treat_cents AS HUGEINT) * 1000000
                    // nullif(n_treat, 0))
                   - (CAST(y_control_cents AS HUGEINT) * 1000000
                      // nullif(n_total - n_treat, 0)) AS BIGINT)
                  AS ate_cents_e6
       FROM g""",
    "INVERSE-PROPENSITY-WEIGHTED treatment effect per stratum — the "
    "Horvitz-Thompson estimator an experimentation platform reports "
    "alongside the SRM gate (q_srm_check) and CUPED adjustment "
    "(q_cuped_adjust): within each event_type stratum, the treated-arm "
    "mean outcome (exact integer cents, weighted by the realized "
    "stratum propensity n_treat/n) minus the control-arm mean, in e6 "
    "units. With the hash assignment the propensity is ~1/2 per "
    "stratum, so the stratified HT estimate reduces to the difference "
    "of arm means — computed here entirely from per-stratum sufficient "
    "statistics (count + two conditional sums), all integer with the "
    "HUGEINT/DECIMAL widening BEFORE the 1e6 scale-up and nullif "
    "guards degenerating an empty arm to NULL rather than an error. "
    "Shape: ONE conditional-sum hash agg (partial-first) over the fact "
    "table; the estimator never sees row data — the same sufficient-"
    "statistics contract as q_cuped_adjust.",
)
def q_ipw_ate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    arm = _arm_col()
    y = cents(F.col("value"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(arm).alias("n_treat"),
        F.sum(F.when(arm == 1, y).otherwise(0)).alias("y_treat_cents"),
        F.sum(F.when(arm == 0, y).otherwise(0)).alias("y_control_cents"),
    )
    ate = F.expr(
        "(CAST(y_treat_cents AS DECIMAL(38,0)) * 1000000"
        " div nullif(n_treat, 0))"
        " - (CAST(y_control_cents AS DECIMAL(38,0)) * 1000000"
        "    div nullif(n_total - n_treat, 0))"
    )
    return g.select(
        "event_type",
        "n_total",
        "n_treat",
        "y_treat_cents",
        "y_control_cents",
        ate.cast("long").alias("ate_cents_e6"),
    )


_MINMAX_DIMS = (0, 7, 31, 63)


@register(
    "q_minmax_scale",
    """WITH s AS (
         SELECT """
    + ", ".join(
        f"min(CAST(embedding[{k + 1}] AS DOUBLE)) AS mn{k}, "
        f"max(CAST(embedding[{k + 1}] AS DOUBLE)) AS mx{k}"
        for k in _MINMAX_DIMS
    )
    + """
         FROM embeddings
       )
       SELECT vec_id, """
    + ", ".join(
        f"CAST(floor((CAST(embedding[{k + 1}] AS DOUBLE) - mn{k})"
        f" * 1000000.0 / nullif(mx{k} - mn{k}, 0)) AS BIGINT) AS d{k}_e6"
        for k in _MINMAX_DIMS
    )
    + """
       FROM embeddings, s""",
    "MIN-MAX feature scaling to [0, 1e6] over embedding dimensions "
    "{0, 7, 31, 63} — the rescaling half of the feature-engineering "
    "pair with q_quantile_normalize (rank-based): one corpus-level "
    "min/max agg (8 scalars), broadcast back, pure scan-side map. The "
    "compared values are floor((x - mn) * 1e6 / (mx - mn)) with the "
    "EXACT SAME IEEE op order on both legs (f32 -> f64 widening is "
    "exact; min/max involve no accumulation; identical op sequence => "
    "bit-identical doubles => identical floors — the q_cosine_topk "
    "determinism argument), nullif-guarded against a constant "
    "dimension. Shape: one partial-first min/max agg and one "
    "narrow map — no shuffle of the vector table, the broadcast stats "
    "row is 64 doubles.",
)
def q_minmax_scale(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    stats = emb.agg(
        *[
            m
            for k in _MINMAX_DIMS
            for m in (
                F.min(F.col("embedding")[k].cast("double")).alias(f"mn{k}"),
                F.max(F.col("embedding")[k].cast("double")).alias(f"mx{k}"),
            )
        ]
    )
    scaled = [
        F.expr(
            f"CAST(floor((CAST(embedding[{k}] AS DOUBLE) - mn{k})"
            f" * 1000000.0 / nullif(mx{k} - mn{k}, CAST(0 AS DOUBLE)))"
            f" AS BIGINT)"
        ).alias(f"d{k}_e6")
        for k in _MINMAX_DIMS
    ]
    return emb.crossJoin(F.broadcast(stats)).select("vec_id", *scaled)


@register(
    "q_bleu_rouge",
    """WITH t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), uni AS (
         SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT doc_id, unnest(w) AS g FROM t) GROUP BY doc_id, g
       ), bi AS (
         SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT doc_id,
                      unnest([w[i] || ' ' || w[i + 1]
                              for i in range(1, len(w))]) AS g
               FROM t)
         GROUP BY doc_id, g
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(a.w) AS BIGINT) AS cand_len,
                CAST(len(b.w) AS BIGINT) AS ref_len
         FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
       ), uc AS (
         SELECT u1.doc_id AS id_a,
                CAST(sum(least(u1.c, u2.c)) AS BIGINT) AS uni_clip
         FROM uni u1 JOIN uni u2
           ON u2.doc_id = u1.doc_id + 1 AND u2.g = u1.g
         GROUP BY u1.doc_id
       ), bc AS (
         SELECT b1.doc_id AS id_a,
                CAST(sum(least(b1.c, b2.c)) AS BIGINT) AS bi_clip
         FROM bi b1 JOIN bi b2
           ON b2.doc_id = b1.doc_id + 1 AND b2.g = b1.g
         GROUP BY b1.doc_id
       )
       SELECT p.id_a, p.id_b, p.cand_len, p.ref_len,
              coalesce(uc.uni_clip, 0) AS uni_clip,
              coalesce(bc.bi_clip, 0) AS bi_clip,
              CAST(coalesce(uc.uni_clip, 0) * 1000000
                   // nullif(p.cand_len, 0) AS BIGINT) AS p1_e6,
              CAST(coalesce(bc.bi_clip, 0) * 1000000
                   // nullif(greatest(p.cand_len - 1, 0), 0) AS BIGINT)
                  AS p2_e6,
              CAST(coalesce(uc.uni_clip, 0) * 1000000
                   // nullif(p.ref_len, 0) AS BIGINT) AS rouge1_recall_e6
       FROM pairs p LEFT JOIN uc ON uc.id_a = p.id_a
                    LEFT JOIN bc ON bc.id_a = p.id_a""",
    "GENERATION-EVAL n-gram metrics (BLEU-style clipped precision + "
    "ROUGE-1 recall) over every consecutive doc pair (candidate = doc "
    "i, reference = doc i+1 — the q_minhash_est_jaccard pairing, "
    "non-degenerate because consecutive docs share vocabulary without "
    "containment): modified n-gram precision (Papineni et al. 2002) "
    "counts each candidate n-gram clipped at its reference count — "
    "sum(least(c_cand, c_ref)) per shared gram — for n=1,2, plus "
    "ROUGE-1 recall (Lin 2004), all exact integers with e6 precisions "
    "via truncating div. Shape: the RELATIONAL formulation, not "
    "per-row list scans — explode to (doc, gram, count) tables (one "
    "hash agg each), equi-join on (adjacent doc, gram), per-pair sum; "
    "every step is a keyed shuffle on gram-sized rows, no "
    "O(|doc|^2) per-document work anywhere. LEFT joins + coalesce keep "
    "zero-overlap pairs in the output (a clip of 0 is a score, not a "
    "dropped row).",
)
def q_bleu_rouge(spark, sf_dir):
    # Checkpoint the split corpus and both gram-count tables: each gram
    # table is consumed TWICE (the clip self-join reads it as candidate
    # AND as the doc_id-shifted reference) and lens twice more — the
    # static plan otherwise re-derives scan+split+explode+agg per
    # consumer (12 parquet scans / 8 explodes, OPTIMIZATION_r15.md).
    # Materialized: one scan+split, one agg per gram order.
    d = _t(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("w"),
    ).localCheckpoint(eager=False)
    bigrams = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        " slice(w, 2, greatest(size(w) - 1, 0)),"
        " (x, y) -> concat(x, ' ', y))"
    )
    uni = (
        d.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bi = (
        d.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    lens = d.select("doc_id", F.size("w").cast("long").alias("n"))
    pairs = (
        lens.alias("a")
        .join(
            lens.select(
                (F.col("doc_id") - 1).alias("doc_id"),
                F.col("n").alias("ref_n"),
            ).alias("b"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
            F.col("n").alias("cand_len"),
            F.col("ref_n").alias("ref_len"),
        )
    )

    def clip_sum(grams, out):
        g2 = grams.select(
            (F.col("doc_id") - 1).alias("doc_id"),
            F.col("g"),
            F.col("c").alias("c_ref"),
        )
        return (
            grams.join(g2, ["doc_id", "g"])
            .groupBy(F.col("doc_id").alias("id_a"))
            .agg(F.sum(F.least("c", "c_ref")).alias(out))
        )

    out = (
        pairs.join(clip_sum(uni, "uni_clip"), "id_a", "left")
        .join(clip_sum(bi, "bi_clip"), "id_a", "left")
        .select(
            "id_a",
            "id_b",
            "cand_len",
            "ref_len",
            F.coalesce("uni_clip", F.lit(0)).alias("uni_clip"),
            F.coalesce("bi_clip", F.lit(0)).alias("bi_clip"),
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "cand_len",
        "ref_len",
        "uni_clip",
        "bi_clip",
        F.expr("uni_clip * 1000000 div nullif(cand_len, 0)").alias("p1_e6"),
        F.expr(
            "bi_clip * 1000000 div nullif(greatest(cand_len - 1, 0), 0)"
        ).alias("p2_e6"),
        F.expr("uni_clip * 1000000 div nullif(ref_len, 0)").alias(
            "rouge1_recall_e6"
        ),
    )


@register(
    "q_diff_in_diff",
    f"""WITH a AS (
         SELECT event_type, {_ARM_SQL} AS arm,
                CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END
                    AS post,
                CAST(round(value * 100) AS BIGINT) AS y
         FROM events
       ), g AS (
         SELECT event_type,
                CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_t_post,
                CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_t_pre,
                CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_c_post,
                CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_c_pre,
                CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN y ELSE 0 END)
                     AS BIGINT) AS y_t_post,
                CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN y ELSE 0 END)
                     AS BIGINT) AS y_t_pre,
                CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN y ELSE 0 END)
                     AS BIGINT) AS y_c_post,
                CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN y ELSE 0 END)
                     AS BIGINT) AS y_c_pre
         FROM a GROUP BY event_type
       )
       SELECT event_type, n_t_post, n_t_pre, n_c_post, n_c_pre,
              CAST(((CAST(y_t_post AS HUGEINT) * 1000000
                     // nullif(n_t_post, 0))
                    - (CAST(y_t_pre AS HUGEINT) * 1000000
                       // nullif(n_t_pre, 0)))
                   - ((CAST(y_c_post AS HUGEINT) * 1000000
                       // nullif(n_c_post, 0))
                      - (CAST(y_c_pre AS HUGEINT) * 1000000
                         // nullif(n_c_pre, 0))) AS BIGINT) AS did_cents_e6
       FROM g""",
    "DIFFERENCE-IN-DIFFERENCES estimate per stratum — the third leg of "
    "the experimentation family (q_srm_check gates the assignment, "
    "q_cuped_adjust reduces variance, q_ipw_ate weights the effect): "
    "the treated arm's pre→post mean-outcome change minus the control "
    "arm's, per event_type, around the fixed 2024-01-08 cutoff (Card & "
    "Krueger's canonical design). Each of the four cell means is exact "
    "integer cents scaled e6 with HUGEINT/DECIMAL(38,0) widening "
    "BEFORE the 1e6 product and nullif degeneracy guards; the double "
    "difference is then pure BIGINT subtraction, so the estimate "
    "hash-checks. Shape: ONE eight-way conditional-sum hash agg "
    "(partial-first) over the fact table, then scalar math on "
    "|event_types| rows — the sufficient-statistics contract; the "
    "estimator never touches row data after the scan.",
)
def q_diff_in_diff(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    arm = _arm_col()
    post = (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp")).cast(
        "long"
    )
    y = cents(F.col("value"))

    def cell(a, p, val):
        cond = (arm == a) & (post == p)
        return F.sum(F.when(cond, val).otherwise(0))

    g = ev.groupBy("event_type").agg(
        cell(1, 1, F.lit(1)).alias("n_t_post"),
        cell(1, 0, F.lit(1)).alias("n_t_pre"),
        cell(0, 1, F.lit(1)).alias("n_c_post"),
        cell(0, 0, F.lit(1)).alias("n_c_pre"),
        cell(1, 1, y).alias("y_t_post"),
        cell(1, 0, y).alias("y_t_pre"),
        cell(0, 1, y).alias("y_c_post"),
        cell(0, 0, y).alias("y_c_pre"),
    )
    mean = (
        "(CAST(y_{c} AS DECIMAL(38,0)) * 1000000 div nullif(n_{c}, 0))"
    )
    did = F.expr(
        f"({mean.format(c='t_post')} - {mean.format(c='t_pre')})"
        f" - ({mean.format(c='c_post')} - {mean.format(c='c_pre')})"
    )
    return g.select(
        "event_type",
        "n_t_post",
        "n_t_pre",
        "n_c_post",
        "n_c_pre",
        did.cast("long").alias("did_cents_e6"),
    )


#: Shared IEEE op sequence of the MDE computation (the _PCA2_STEPS
#: contract: +,-,*,/ and sqrt are correctly rounded, so an identical
#: textual sequence over identical inputs yields identical doubles on
#: both engines; the HUGEINT/DECIMAL(38,0) -> DOUBLE casts of the same
#: exact integer round identically — verified cross-engine on 1e26-scale
#: values at registration). z_{0.975} + z_{0.80} = 2.8015852107170867
#: (alpha = 0.05 two-sided, power = 0.80), frozen as a shared literal.
_MDE_STEPS = [
    ("tvn", "CAST(var_num AS DOUBLE)"),
    # nullif guards the n=1 stratum: var_den = n*(n-1) = 0 would make
    # varr = x/0 -> Infinity, where non-ANSI Spark casts floor(inf*1e6)
    # to Long.MaxValue while DuckDB's CAST raises — NULL on both legs
    # instead (the q_ipw_ate / q_cuped_adjust degeneracy discipline).
    ("tvd", "CAST(nullif(var_den, 0) AS DOUBLE)"),
    ("varr", "tvn / tvd"),
    ("se2", "(4e0 * varr) / CAST(n AS DOUBLE)"),
    ("mde", "2.8015852107170867e0 * sqrt(se2)"),
]
_MDE_OUT = "CAST(floor(mde * 1000000e0) AS BIGINT)"


def _mde_tail(inner: str) -> str:
    for name, expr in _MDE_STEPS:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return inner


@register(
    "q_power_mde",
    f"""WITH m AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS sum_cents,
                sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                    * CAST(round(value * 100) AS BIGINT)) AS s2
         FROM events GROUP BY event_type
       ), v AS (
         SELECT event_type, n, sum_cents,
                CAST(n AS HUGEINT) * s2
                  - CAST(sum_cents AS HUGEINT) * sum_cents AS var_num,
                CAST(n AS HUGEINT) * (n - 1) AS var_den
         FROM m
       )
       SELECT event_type, n, sum_cents, {_MDE_OUT} AS mde_cents_e6
       FROM ({_mde_tail("SELECT * FROM v")})""",
    "POWER ANALYSIS / minimum detectable effect per stratum — the "
    "experiment-sizing computation a platform runs BEFORE launch, "
    "completing the lifecycle suite (q_power_mde sizes it, q_srm_check/"
    "q_stream_srm gate it, q_cuped_adjust tightens it, q_ipw_ate/"
    "q_diff_in_diff read it out): MDE = (z_alpha/2 + z_beta) * "
    "sqrt(2*sigma^2/(n/2)) for a 50/50 split of the stratum's n events, "
    "alpha = 0.05 two-sided, power = 0.80, in e6 cents. Sample variance "
    "comes from exact integer moments (n, sum, sum-of-squares) widened "
    "to HUGEINT/DECIMAL(38,0) BEFORE the n*s2 product (sum-of-squares "
    "times n overflows int64 past ~1e20 cents-squared-rows — hit at the "
    "512x probe scale, the q_cuped_adjust discipline); the "
    "float tail is a SHARED textual IEEE op sequence (_MDE_STEPS — the "
    "q_pca_project_2d correctly-rounded contract), so the floored e6 "
    "result hash-checks. Shape: ONE partial-first moment agg over the "
    "fact table; the analysis itself is scalar math on |event_types| "
    "rows.",
)
def q_power_mde(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    y = cents(F.col("value"))
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("sum_cents"),
        F.sum(F.expr(
            "CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))"
            " * CAST(round(value * 100) AS BIGINT)"
        )).alias("s2"),
    )
    v = m.select(
        "event_type",
        "n",
        "sum_cents",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(sum_cents AS DECIMAL(38,0)) * sum_cents"
        ).alias("var_num"),
        F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)").alias("var_den"),
    )
    for name, expr in _MDE_STEPS:
        v = v.withColumn(name, F.expr(expr))
    return v.select(
        "event_type",
        "n",
        "sum_cents",
        F.expr(_MDE_OUT).alias("mde_cents_e6"),
    )
