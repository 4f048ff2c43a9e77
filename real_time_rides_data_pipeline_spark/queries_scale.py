"""Scale/curation operators.

Same registry contract as queries.py / queries_ext.py / queries_curate.py
(SURVEY.md §2.9 scope). Determinism rules (SURVEY §7.4) throughout: exact
integer cents / counts, floor-truncated ratios (``floor`` is portable on
identical doubles, ``round`` is not — functions/precision.py), every tie
broken by a total order.

Scale notes:
- Bloom decontamination broadcasts a COMPACT filter (MBs for millions of
  eval grams) instead of shuffling the corpus gram table against the eval
  set — the corpus-side join input shrinks to pre-filtered survivors.
- CDC apply, funnel, and sharding are single-key shuffles (user_id / shard)
  with window or re-aggregation on the same key.
- Quantization / regex pre-tokenization are narrow JVM maps over the scan.
- PMI is wordcount-shaped: ONE pass over the exploded bigram stream into
  (w1,w2) counts; unigram/total counts re-aggregate from the (far smaller)
  bigram-count table, which is locally checkpointed for its three
  consumers — the corpus is tokenized once, and the unigram join stays
  shuffle-side (a corpus vocabulary can exceed the broadcast budget).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions import text as X
from real_time_rides_data_pipeline_spark.functions.precision import cents
from real_time_rides_data_pipeline_spark.operators.clean import KNUTH_MULT
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import scratch_dir as _scratch_dir
from real_time_rides_data_pipeline_spark.session import scoped_writer_session
from real_time_rides_data_pipeline_spark.streaming.replay import (
    run_to_completion,
    stage_batches,
)

# =========================================================================
# Bloom-prefiltered decontamination
# =========================================================================


@register(
    "q_bloom_decontaminate",
    """WITH train AS (
         SELECT doc_id,
                list_distinct(
                    [concat_ws(' ', w[i+1], w[i+2], w[i+3],
                               w[i+4], w[i+5], w[i+6])
                     for i in range(greatest(len(w) - 5, 1))]) AS sh
         FROM (SELECT doc_id,
                      string_split_regex(trim(text), '\\s+') AS w
               FROM documents)
       ), eval_grams AS (
         SELECT DISTINCT
                unnest([concat_ws(' ', v[i+1], v[i+2], v[i+3],
                                  v[i+4], v[i+5], v[i+6])
                        for i in range(greatest(len(v) - 5, 1))]) AS g
         FROM (SELECT w[2:] AS v
               FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
                     FROM documents WHERE doc_id % 89 = 1))
       )
       SELECT t.doc_id, count(*) AS n_hits
       FROM (SELECT doc_id, unnest(sh) AS g FROM train) t
       JOIN eval_grams USING (g)
       GROUP BY t.doc_id""",
    "Bloom-PREFILTERED decontamination — q_decontaminate's scale upgrade: "
    "the eval benchmark's distinct 6-gram shingles are folded into a Bloom "
    "bitmap built DISTRIBUTED (seeded-xxhash64 bit positions, bit_or into "
    "64-bit words — operators/bloom.py; Spark's BloomFilterAggregate is "
    "optimizer-internal, so the same structure is built from public "
    "primitives), collected as a constant-size word array (KiBs) and "
    "folded into the plan as ONE literal. might_contain() prunes the "
    "corpus gram stream map-side in whole-stage codegen; only the tiny "
    "surviving candidate set reaches the exact semi-join that removes "
    "bloom false positives — so the output is EXACTLY the n-gram-overlap "
    "hit count per contaminated doc (deterministic despite the "
    "probabilistic filter: no false negatives by bloom construction, no "
    "false positives after the verify join — property-tested in "
    "tests/test_properties.py). The corpus side never shuffles "
    "its full gram table: the bloom rejects ~all of it at the scan. Eval "
    "set = every 89th doc minus its first token (a benchmark quoting a "
    "span of a crawled page).",
)
def q_bloom_decontaminate(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import bloom as B

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    eval_text = d.filter(F.col("doc_id") % 89 == 1).select(
        F.concat_ws(
            " ",
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)).cast("int")),
        ).alias("text")
    )
    # Materialize the eval gram set ONCE: it feeds both the bloom build and
    # the exact verify join (without this the eval docs scan + shingle
    # twice). Bounded by the benchmark size — benchmarks are small by the
    # same assumption that lets the verify side broadcast.
    eval_grams = (
        eval_text.select(
            F.explode(X.word_shingles(F.col("text"), 6)).alias("g")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # 2^16 bits (1024 words, 8 KiB): sized for the benchmark-scale gram
    # count; a higher FPR only costs verify-join input, never output
    # correctness — and the smaller plan literal keeps codegen tight.
    words = B.build_bloom_words(eval_grams, "g", m_bits=1 << 16)
    train_grams = d.select(
        "doc_id", F.explode(X.word_shingles(F.col("text"), 6)).alias("g")
    )
    candidates = train_grams.filter(
        B.might_contain(F.col("g"), words, m_bits=1 << 16)
    )
    return (
        candidates.join(F.broadcast(eval_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# =========================================================================
# CDC changelog apply
# =========================================================================


@register(
    "q_cdc_apply",
    """WITH ranked AS (
         SELECT user_id, event_type, ts, event_id,
                CAST(round(value * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n_ops
         FROM events)
       SELECT user_id, event_type AS last_op, cents AS last_cents,
              ts AS last_ts, n_ops
       FROM ranked WHERE rn = 1 AND event_type <> 'error'""",
    "CDC changelog APPLY: compact an ordered op log into final table state "
    "— every event upserts its user's row except 'error', which deletes it "
    "(a user whose LAST op is a delete is absent from the result; a later "
    "upsert resurrects it — last-writer-wins, the Debezium/Delta-CDF "
    "compaction rule). One window pass: row_number + count over the same "
    "(user_id, ts DESC, event_id DESC) partitioning = ONE shuffle; "
    "(ts, event_id) is the total order that makes last-writer "
    "deterministic under timestamp ties. This is the "
    "materialize-step of a streaming MERGE (q_merge_upsert applies the "
    "same log incrementally via foreachBatch).",
)
def q_cdc_apply(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "event_type",
        "ts",
        cents(F.col("value")).alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_ops"),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.col("cents").alias("last_cents"),
        F.col("ts").alias("last_ts"),
        "n_ops",
    )


# =========================================================================
# Deterministic corpus shuffle + sharding
# =========================================================================

_SHARD_P = 1000003  # prime modulus for the shard hash
_SHARD_M = KNUTH_MULT % _SHARD_P
_N_SHARDS = 8


@register(
    "q_corpus_shard",
    f"""SELECT doc_id,
               h % {_N_SHARDS} AS shard,
               CAST(row_number() OVER (PARTITION BY h % {_N_SHARDS}
                                       ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM (SELECT doc_id,
                     ((doc_id % {_SHARD_P}) * {_SHARD_M}) % {_SHARD_P} AS h
              FROM documents)""",
    "Deterministic corpus SHUFFLE + SHARDING — the write-side of every "
    "training-data pipeline: each doc gets a pseudorandom but replayable "
    "position (shard, pos) from a Knuth-multiplier modular hash of its id "
    "— no RNG state, so a backfill reproduces byte-identical shards and "
    "two engines agree exactly (the same hash family as q_hash_sample / "
    "q_stratified_sample). Shape: one hash shuffle on the shard key, then "
    "a per-shard sort for the intra-shard order — the shape of "
    "repartition(N, shard) + sortWithinPartitions(h, doc_id) feeding the "
    "sharded writer, each shard an independent sorted run (no global "
    "sort, no driver).",
)
def q_corpus_shard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(_SHARD_P)) * F.lit(_SHARD_M),
        F.lit(_SHARD_P),
    )
    shard = F.pmod(F.col("h"), F.lit(_N_SHARDS))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", shard)
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


# =========================================================================
# Embedding int8 quantization
# =========================================================================


@register(
    "q_int8_quantize",
    """WITH s AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                list_max(list_transform(embedding,
                                        x -> abs(CAST(x AS DOUBLE)))) AS amax
         FROM embeddings
       ), q AS (
         SELECT vec_id, amax / 127.0 AS scale,
                list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
                    floor(x / (amax / 127.0) + 0.5))) AS INTEGER)) AS qv
         FROM s WHERE amax > 0
       )
       SELECT vec_id,
              CAST(floor(scale * 1000000) AS BIGINT) AS scale_ppm,
              CAST(list_sum(qv) AS BIGINT) AS checksum,
              CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT)
                  AS n_sat
       FROM q""",
    "Symmetric INT8 embedding quantization — the 4x storage/bandwidth "
    "compression applied before ANN serving: per-vector scale = max|x|/127, "
    "q_i = clamp(round_half_up(x_i/scale)) where round_half_up is "
    "floor(x+0.5) because floor is the cross-engine-portable rounding "
    "(functions/precision.py: round() on doubles is NOT portable, floor "
    "is). Reported as exact integers: floored scale-ppm, the int8 "
    "checksum, and the saturation count (q = ±127 — the clip-rate metric "
    "that decides whether a corpus needs per-block scales). Pure JVM array "
    "lambdas over one scan — narrow, no shuffle, no Python.",
)
def q_int8_quantize(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    base = emb.select("vec_id", v.alias("v"), amax.alias("amax")).filter(
        F.col("amax") > 0
    )
    scale = F.col("amax") / 127.0
    qv = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5))
        ).cast("int"),
    )
    return base.select(
        "vec_id",
        F.floor(scale * 1000000).cast("long").alias("scale_ppm"),
        F.aggregate(
            qv, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("checksum"),
        F.size(F.filter(qv, lambda x: F.abs(x) == 127))
        .cast("long")
        .alias("n_sat"),
    )


# =========================================================================
# Bigram collocations (PMI-ranked)
# =========================================================================


@register(
    "q_pmi_bigrams",
    """WITH tok AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), big AS (
         SELECT b.w1, b.w2
         FROM (SELECT unnest([{'w1': w[i+1], 'w2': w[i+2]}
                              for i in range(greatest(len(w) - 1, 1))]) AS b
               FROM tok)
         WHERE b.w2 IS NOT NULL
       ), xy AS (
         SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY w1, w2
       ), xs AS (SELECT w1, count(*) AS n_x FROM big GROUP BY w1),
          ys AS (SELECT w2, count(*) AS n_y FROM big GROUP BY w2),
          tot AS (SELECT count(*) AS n FROM big)
       SELECT xy.w1, xy.w2, xy.n_xy,
              CAST(floor((xy.n_xy * 1000000.0) * tot.n
                         / (xs.n_x * 1.0 * ys.n_y)) AS BIGINT) AS lift_ppm
       FROM xy JOIN xs USING (w1) JOIN ys USING (w2) CROSS JOIN tot
       WHERE xy.n_xy >= 5""",
    "Bigram COLLOCATION mining, PMI-ranked: for every adjacent word pair "
    "seen >= 5 times, lift = p(xy)/(p(x)p(y)) reported as the exact "
    "integer n_xy*N*1e6 DIV (n_x*n_y) — monotone in PMI (log is monotone) "
    "with zero float ops, so the ranking is bit-exact across engines "
    "(avoids the libm-log last-ulp divergence). The phrase-detection pass "
    "(word2vec-style) every corpus pipeline runs before tokenizer "
    "training. Shape: map-side bigram fan-out (transform over the token "
    "array — no posexplode self-join) into ONE (w1,w2) count aggregation; "
    "unigram and total counts RE-AGGREGATE from the checkpointed bigram-"
    "count table (sum(n_xy) by w1 == count(w1) — mergeability, the "
    "q_rollup_reagg contract), so the corpus is tokenized exactly once "
    "and later shuffles move count rows, not tokens. The unigram tables "
    "join SHUFFLE-side keyed on the word (a corpus vocabulary can exceed "
    "the broadcast budget), the 1-row total broadcasts.",
)
def q_pmi_bigrams(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    w = X.tokens(F.col("text"))
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - 2, F.lit(0)))
    # try_element_at: a 1-token doc still probes position 2 through the
    # guard index [0]; ANSI element_at would THROW there, try_element_at
    # yields NULL and the w2-NOT-NULL filter drops it (= the oracle's
    # out-of-bounds-NULL list indexing).
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.try_element_at(w, (i + 1).cast("int")).alias("w1"),
            F.try_element_at(w, (i + 2).cast("int")).alias("w2"),
        ),
    )
    big = (
        d.select(F.explode(pairs).alias("b"))
        .select("b.w1", "b.w2")
        .filter(F.col("w2").isNotNull())
    )
    # ONE pass over the exploded bigram stream; unigram and total counts
    # RE-AGGREGATE from the (vocab²-bounded) bigram counts — sum(n_xy) by
    # w1 ≡ count(w1) over big — so the corpus is scanned/tokenized once
    # and every later shuffle moves count rows, not tokens (pinned in
    # tests/test_plans.py::test_pmi_single_corpus_pass).
    xy = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .localCheckpoint(eager=False)
    )
    xs = xy.groupBy("w1").agg(F.sum("n_xy").alias("n_x"))
    ys = xy.groupBy("w2").agg(F.sum("n_xy").alias("n_y"))
    tot = xy.agg(F.sum("n_xy").alias("n"))
    return (
        xy.join(xs, "w1")
        .join(ys, "w2")
        .join(F.broadcast(tot))
        .filter(F.col("n_xy") >= 5)
        .select(
            "w1",
            "w2",
            "n_xy",
            # Fixed-order DOUBLE arithmetic, not int64: n_xy*n*1e6 and
            # n_x*n_y both overflow BIGINT once the corpus passes
            # n ~ 2e13 grams. Doubles are exact below 2^53
            # (every fixture SF) and deterministic-identical across
            # engines above it (same IEEE op order); floor is portable.
            F.expr(
                "CAST(floor((n_xy * 1000000.0) * n / (n_x * 1.0 * n_y))"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# =========================================================================
# Robust outliers (median absolute deviation)
# =========================================================================


@register(
    "q_mad_outlier",
    """WITH e AS (
         SELECT event_type, event_id,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events
       ), m AS (
         SELECT event_type, quantile_cont(cents, 0.5) AS med
         FROM e GROUP BY event_type
       ), d AS (
         SELECT e.event_type, e.event_id, e.cents,
                abs(2 * e.cents - CAST(2 * m.med AS BIGINT)) AS dev2
         FROM e JOIN m USING (event_type)
       ), md AS (
         SELECT event_type, quantile_cont(dev2, 0.5) AS mad2
         FROM d GROUP BY event_type
       )
       SELECT d.event_type, d.event_id, d.cents, d.dev2
       FROM d JOIN md USING (event_type)
       WHERE 2 * d.dev2 > 3 * md.mad2""",
    "Robust outlier flagging via MEDIAN ABSOLUTE DEVIATION — the "
    "heavy-tail-safe twin of q_zscore_outlier (mean/stddev break under the "
    "very outliers they hunt; median/MAD have 50% breakdown point): flag "
    "events whose |x - median| exceeds 1.5 x MAD per event_type. All "
    "arithmetic exact: medians of integers at the dyadic 0.5 fraction are "
    "exact binary doubles (k or k.5 — q_percentile_cont's argument), "
    "doubled deviations are exact integers, and the 1.5x threshold is "
    "compared as 2*dev2 > 3*mad2 — integers vs an exact double. Shape: "
    "two grouped exact-percentile passes (groups = event types, dozens) "
    "whose tiny stats tables BROADCAST back onto the fact scan — the "
    "fact table shuffles zero times.",
)
def q_mad_outlier(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", cents(F.col("value")).alias("cents")
    )
    # Both stats tables are |event_type| rows — materialize them so the
    # dev subtree isn't recomputed per consumer (without the checkpoints
    # Catalyst duplicates the med agg and the fact scans 4x; with them the
    # final plan is ONE fact scan + two broadcast joins — pinned in
    # tests/test_plans.py). Bounded driver actions, like the IVF centroid
    # fetch (operators/similarity.py).
    med = (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(cents, 0.5)").alias("med"))
        .localCheckpoint(eager=True)
    )
    dev2 = F.abs(2 * F.col("cents") - (2 * F.col("med")).cast("long"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "cents", dev2.alias("dev2")
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.expr("percentile(dev2, 0.5)").alias("mad2"))
        .localCheckpoint(eager=True)
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(2 * F.col("dev2") > 3 * F.col("mad2"))
        .select("event_type", "event_id", "cents", "dev2")
    )


# =========================================================================
# BPE-ish regex pre-tokenization
# =========================================================================

_PRETOK_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "q_regex_pretokenize",
    f"""SELECT doc_id,
               CAST(len(p) AS BIGINT) AS n_pieces,
               CAST(len(list_filter(p,
                    x -> regexp_matches(x, '^[A-Za-z]'))) AS BIGINT)
                   AS n_alpha,
               CAST(len(list_filter(p,
                    x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) AS n_num,
               CAST(len(list_filter(p,
                    x -> NOT regexp_matches(x, '^[A-Za-z0-9]'))) AS BIGINT)
                   AS n_other
        FROM (SELECT doc_id,
                     regexp_extract_all(lang || '-' || doc_id || ': ' || text,
                                        '{_PRETOK_RE}') AS p
              FROM documents)""",
    "BPE-ish REGEX PRE-TOKENIZATION — the GPT-2-style splitter run before "
    "any merge-table training: letter runs | digit runs | punctuation runs "
    "(the class boundaries where BPE merges never cross), counted per "
    "class per document. The input line is prefixed 'lang-doc_id: ' so the "
    "digit and punctuation classes are exercised on this all-prose "
    "fixture. The pattern is shared verbatim across engines (pure ASCII "
    "classes — no Java-vs-RE2 semantic gap). Narrow map over the scan: "
    "regexp_extract_all + array filters, whole-stage codegen, no shuffle.",
)
def q_regex_pretokenize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    # F.concat (NULL-propagating), NOT concat_ws (NULL-skipping): the
    # oracle's || operator nulls the whole line when any part is NULL, and
    # the engines must agree on that row.
    line = F.concat(
        F.col("lang"), F.lit("-"), F.col("doc_id"), F.lit(": "), F.col("text")
    )
    p = F.regexp_extract_all(line, F.lit(_PRETOK_RE), F.lit(0))

    def n_matching(prefix_re: str) -> F.Column:
        return F.size(
            F.filter(p, lambda x: x.rlike(prefix_re))
        ).cast("long")

    return d.select(
        "doc_id",
        F.size(p).cast("long").alias("n_pieces"),
        n_matching("^[A-Za-z]").alias("n_alpha"),
        n_matching("^[0-9]").alias("n_num"),
        F.size(F.filter(p, lambda x: ~x.rlike("^[A-Za-z0-9]")))
        .cast("long")
        .alias("n_other"),
    )


# =========================================================================
# Conversion funnel
# =========================================================================


@register(
    "q_funnel_steps",
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.ts) AS t2
                  FROM events e JOIN v ON e.user_id = v.user_id
                                      AND e.ts > v.t1
                  WHERE e.event_type = 'click' GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.ts) AS t3
                  FROM events e JOIN c ON e.user_id = c.user_id
                                      AND e.ts > c.t2
                  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       SELECT u.user_id, v.t1, c.t2, p.t3,
              CASE WHEN p.t3 IS NOT NULL THEN 3
                   WHEN c.t2 IS NOT NULL THEN 2
                   WHEN v.t1 IS NOT NULL THEN 1
                   ELSE 0 END AS stage
       FROM (SELECT DISTINCT user_id FROM events) u
       LEFT JOIN v USING (user_id)
       LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)""",
    "Ordered CONVERSION FUNNEL (view -> click -> purchase): per user, the "
    "first view, the first click STRICTLY AFTER that view, the first "
    "purchase strictly after that click — the sequence constraint that "
    "separates funnel analytics from three independent mins (a purchase "
    "before the first view does not convert). Three grouped mins + three "
    "joins, ALL keyed on user_id: the shuffle partitioning is computed "
    "once and reused by every stage (Exchange reuse), and each stage's "
    "input shrinks monotonically (only stage-k users reach stage k+1). "
    "Events-side filters (event_type) push to the scan.",
)
def q_funnel_steps(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t1", "t2", "t3", stage.cast("int").alias("stage"))
    )


# =========================================================================
# Declarative SQL UDFs (CREATE FUNCTION ... RETURN expr)
# =========================================================================


def _sf_view(spark, sf_dir: str, table: str, tag: str) -> str:
    """Register a fixture as a temp view under a DETERMINISTIC per-sf_dir
    name and return it. Deterministic (not uuid) so repeat invocations
    replace rather than leak a catalog entry per call; per-sf_dir so two
    callers on different scale factors in one session can never race each
    other onto the wrong data (the fixed-single-name hazard)."""
    import re

    name = f"{table}_{tag}_{re.sub(r'[^A-Za-z0-9]', '_', sf_dir).strip('_')}"
    _t(spark, sf_dir, table).createOrReplaceTempView(name)
    return name


@register(
    "q_sql_udf",
    """CREATE OR REPLACE MACRO sg_cents_of(x) AS
           CAST(round(x * 100) AS BIGINT);
       CREATE OR REPLACE MACRO sg_band_of(n) AS
           CASE WHEN n < 120 THEN 'short'
                WHEN n < 180 THEN 'mid' ELSE 'long' END;
       SELECT sg_band_of(n_chars) AS band,
              count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY sg_band_of(n_chars)""",
    "Declarative SQL UDFs (Spark 4 CREATE FUNCTION ... RETURNS ... RETURN "
    "expr — the catalog-registered, pure-SQL scalar function; DuckDB's "
    "twin is CREATE MACRO): a banding function defined ONCE and used in "
    "both the projection and the GROUP BY. Unlike Python UDFs these "
    "inline at analysis time — the optimized plan is identical to writing "
    "the CASE expression by hand (whole-stage codegen, predicate "
    "pushdown through the function body), so the abstraction costs "
    "nothing: the engine never calls out of the JVM. "
    "Session-scoped TEMPORARY function with OR REPLACE so reruns and "
    "concurrent benches never collide.",
)
def q_sql_udf(spark, sf_dir):
    # FIXED function name + OR REPLACE: temp functions are session-scoped
    # so concurrent sessions cannot collide, and OR REPLACE makes reruns
    # idempotent — uuid-suffixed names would leak a catalog entry per call.
    # The view name is deterministic PER sf_dir (see _sf_view).
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION sg_band_of(n BIGINT)
           RETURNS STRING
           RETURN CASE WHEN n < 120 THEN 'short'
                       WHEN n < 180 THEN 'mid' ELSE 'long' END"""
    )
    view = _sf_view(spark, sf_dir, "documents", "sqludf")
    return spark.sql(
        f"""SELECT sg_band_of(n_chars) AS band,
                   count(*) AS n_docs,
                   sum(n_chars) AS total_chars
            FROM {view} GROUP BY sg_band_of(n_chars)"""
    )


# =========================================================================
# Column profiling (ANALYZE-style statistics)
# =========================================================================


@register(
    "q_profile_stats",
    """SELECT 'event_id' AS col_name, count(*) AS n_rows,
              count(*) - count(event_id) AS n_nulls,
              count(DISTINCT event_id) AS n_distinct FROM events
       UNION ALL
       SELECT 'ts', count(*), count(*) - count(ts),
              count(DISTINCT ts) FROM events
       UNION ALL
       SELECT 'user_id', count(*), count(*) - count(user_id),
              count(DISTINCT user_id) FROM events
       UNION ALL
       SELECT 'event_type', count(*), count(*) - count(event_type),
              count(DISTINCT event_type) FROM events
       UNION ALL
       SELECT 'value', count(*), count(*) - count(value),
              count(DISTINCT value) FROM events
       UNION ALL
       SELECT 'props', count(*), count(*) - count(props),
              count(DISTINCT props) FROM events""",
    "Column PROFILING — the ANALYZE TABLE ... COMPUTE STATISTICS surface "
    "(row count, null count, exact NDV per column) that feeds CBO join "
    "reordering and data-quality dashboards. The Spark plan computes ALL "
    "six columns' metrics in a single expand+aggregate pass over one scan "
    "(count(DISTINCT a), count(DISTINCT b), ... share one Expand — "
    "Catalyst's multi-distinct rewrite), then stack()-unpivots the 1-row "
    "result; the oracle's UNION-ALL-per-column shape is the semantic spec "
    "only. Exact NDV here because the oracle needs determinism; the "
    "one-pass alternative is approx_count_distinct's mergeable HLL "
    "(q_approx_distinct / q_hll_shard_merge), one pass, no expand "
    "blow-up.",
)
def q_profile_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    wide = ev.agg(*aggs)
    pairs = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {pairs}) AS (col_name, n_nulls, n_distinct)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct")


# =========================================================================
# Streaming CDC apply (incremental twin of q_cdc_apply)
# =========================================================================


@register(
    "q_cdc_stream",
    """WITH ranked AS (
         SELECT user_id, event_type, ts, event_id,
                CAST(round(value * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n_ops
         FROM events)
       SELECT user_id, event_type AS last_op, cents AS last_cents,
              ts AS last_ts, n_ops
       FROM ranked WHERE rn = 1 AND event_type <> 'error'""",
    "STREAMING CDC apply — the incremental twin of q_cdc_apply, checked "
    "against the SAME batch oracle (the stream≡batch criterion, SURVEY "
    "§5.2.2): the op log replays as 2 real micro-batches split round-robin "
    "(so a user's ops cross batches OUT of order — deliberately), each "
    "batch compacts to per-user last-op + op-count inside foreachBatch, "
    "and merge_cdc_parquet folds it into the state table with a "
    "(ts, event_id) version guard (late batches can't regress state), an "
    "ADDITIVE n_ops accumulator, and tombstone retention (a deleted key "
    "stays as a marker so an older late upsert can't resurrect it). "
    "Readers filter tombstones. Convergence to the batch answer under "
    "arbitrary batch order is exactly what the version-guarded merge "
    "buys; the hash check proves it.",
)
def q_cdc_stream(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_cdc_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", cents(F.col("value")).alias("cents")
    )
    inp = stage_batches("cdcstream", sf_dir, lambda: [ev.repartition(2)])
    run_dir = _scratch_dir(prefix="cdc_stream_")
    target, ckpt = f"{run_dir}/state", f"{run_dir}/ckpt"

    def apply_batch(bdf, batch_id):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        compact = (
            bdf.select(
                "user_id",
                F.col("event_type").alias("last_op"),
                F.col("cents").alias("last_cents"),
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.row_number().over(w).alias("__rn"),
                F.count(F.lit(1))
                .over(Window.partitionBy("user_id"))
                .alias("n_ops"),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # batch_id makes the additive n_ops accumulator idempotent under
        # foreachBatch's at-least-once redelivery (the version guard alone
        # only protects latest-state) — see merge_cdc_parquet.
        merge_cdc_parquet(
            bdf.sparkSession,
            compact,
            target,
            keys=("user_id",),
            order_cols=("last_ts", "last_event_id"),
            add_cols=("n_ops",),
            batch_id=batch_id,
        )

    stream = parquet_stream(spark, inp, ev.schema, max_files_per_trigger=1)
    run_to_completion(foreach_batch_merge(stream, ckpt, apply_batch))
    return (
        spark.read.parquet(target)
        .filter(F.col("last_op") != "error")
        .select("user_id", "last_op", "last_cents", "last_ts", "n_ops")
    )


# =========================================================================
# Cohort retention
# =========================================================================


@register(
    "q_cohort_retention",
    """WITH f AS (SELECT user_id,
                         CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
                             AS cohort_week
                  FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', ts) AS TIMESTAMP)
                             AS activity_week
                  FROM events),
            sz AS (SELECT cohort_week, count(*) AS cohort_size
                   FROM f GROUP BY cohort_week)
       SELECT f.cohort_week, a.activity_week,
              count(*) AS n_active,
              sz.cohort_size,
              CAST(floor(count(*) * 1000000.0 / sz.cohort_size) AS BIGINT)
                  AS retention_ppm
       FROM a JOIN f USING (user_id)
       JOIN sz ON sz.cohort_week = f.cohort_week
       GROUP BY f.cohort_week, a.activity_week, sz.cohort_size""",
    "COHORT RETENTION matrix — the product-analytics staple: users grouped "
    "by first-seen week (cohort), counted distinct-active per subsequent "
    "week, reported with a floored parts-per-million retention rate "
    "against the cohort size. Shape: the first-seen agg and the distinct "
    "(user, week) activity set both key on user_id (one partitioning, "
    "Exchange reuse), their join stays on that key, and the final "
    "(cohort, week) roll-up plus the tiny cohort-size broadcast move only "
    "count rows. Weeks truncate Monday-start in both engines.",
)
def q_cohort_retention(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    a = (
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
        )
        .distinct()
        # |users| x |weeks| rows — orders of magnitude under the event
        # count; checkpointed because THREE consumers reuse it and
        # Catalyst duplicates unshared subtrees (same pattern as the PMI
        # bigram-count table).
        .localCheckpoint(eager=False)
    )
    # cohort_week = week of first event = min over the distinct activity
    # weeks (date_trunc is monotone), so the first-seen table DERIVES from
    # `a` — ONE scan of the fact table feeds the whole matrix, and the
    # groupBy reuses a's (user_id, week) shuffle instead of re-reading
    # events (the oracle's two-scan CTE shape is the semantic spec only).
    f = a.groupBy("user_id").agg(F.min("activity_week").alias("cohort_week"))
    sz = f.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        a.join(f, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "activity_week",
            "n_active",
            "cohort_size",
            F.floor(F.col("n_active") * 1000000.0 / F.col("cohort_size"))
            .cast("long")
            .alias("retention_ppm"),
        )
    )


# =========================================================================
# Importance (weighted) sampling with Horvitz-Thompson weights
# =========================================================================


@register(
    "q_importance_sample",
    f"""SELECT doc_id, lang, n_chars,
               1000000000 // least(999, n_chars * 4) AS ht_weight_ppm
        FROM documents
        WHERE ((doc_id % 1000) * {KNUTH_MULT % 1000}) % 1000
              < least(999, n_chars * 4)""",
    "IMPORTANCE SAMPLING with Horvitz-Thompson reweighting — the curation "
    "pass that keeps documents with probability proportional to a quality "
    "proxy (here length, capped at 99.9%) while keeping downstream "
    "statistics unbiased: every kept row carries weight 1/p as an exact "
    "integer ppm. Membership is the Knuth-multiplier modular hash of "
    "doc_id against a per-row integer threshold — no RNG state, "
    "replayable, cross-engine exact (the per-ROW continuous-probability "
    "complement of q_stratified_sample's per-stratum fixed rates). Narrow "
    "map-side filter: the hash, threshold, and weight are all scan-side "
    "expressions; nothing shuffles at any scale.",
)
def q_importance_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(KNUTH_MULT % 1000),
        F.lit(1000),
    )
    p = F.least(F.lit(999), F.col("n_chars") * 4)
    return d.filter(h < p).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr("1000000000 div least(999, n_chars * 4)").alias("ht_weight_ppm"),
    )


# =========================================================================
# Ordered string aggregation (LISTAGG), bitmap-exact NDV, top-k sketch,
# exact-sums correlation
# =========================================================================


@register(
    "q_listagg",
    """SELECT user_id,
              string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                  AS types_csv
       FROM events GROUP BY user_id""",
    "Ordered string aggregation — SQL:2023 LISTAGG ... WITHIN GROUP "
    "(ORDER BY ...), new in Spark 4: the distinct event types a user "
    "produced, comma-joined in lexicographic order. The WITHIN GROUP "
    "order (plus DISTINCT) is what makes the concatenation deterministic "
    "across engines and shuffle orders — an unordered listagg is "
    "nondeterministic by construction and could never hash-match. One "
    "hash aggregate; per-group sort of a bounded (5-element) set.",
)
def q_listagg(spark, sf_dir):
    view = _sf_view(spark, sf_dir, "events", "listagg")
    return spark.sql(
        f"""SELECT user_id,
                   listagg(DISTINCT event_type, ',')
                       WITHIN GROUP (ORDER BY event_type) AS types_csv
            FROM {view} GROUP BY user_id"""
    )


@register(
    "q_bitmap_distinct",
    """SELECT event_type, count(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type""",
    "EXACT distinct counting via bitmap aggregation (bitmap_bucket_number "
    "+ bitmap_bit_position → bitmap_construct_agg → bitmap_count, Spark "
    "3.5+) — the Iceberg/ClickHouse bitmap-index pattern: per-partition "
    "bitmaps OR-merge losslessly, so exact NDV re-aggregates like a sum "
    "(the exact complement of HLL's approximate mergeability, "
    "q_hll_shard_merge). Each bitmap covers a 32768-id BUCKET, so the "
    "grouping must include bitmap_bucket_number and the per-bucket counts "
    "sum at the end — aggregating positions alone silently caps NDV at "
    "32768 (verified: 40k ids alias to 32768 without the bucket key). "
    "The oracle is plain count(DISTINCT): the bitmap is engine-internal "
    "representation, not semantics. Two cheap aggregates over fixed-size "
    "buckets — unlike count(DISTINCT), raw (type, user) pairs never "
    "shuffle at any row count.",
)
def q_bitmap_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # bitmap_bit_position is (x-1) % 32768 — designed for 1-BASED ids; a
    # 0-valued id would alias, so shift the 0-based fixture ids up by one.
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id + 1)").alias("__bucket"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(user_id + 1)))"
        ).cast("long").alias("__n")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("__n").alias("n_users")
    )


@register(
    "q_approx_topk",
    """SELECT event_type, count(*) AS cnt
       FROM events GROUP BY event_type
       ORDER BY cnt DESC, event_type""",
    "Frequent-items sketch (approx_top_k, Spark 4) — the heavy-hitters "
    "pass over a token/URL/user stream: a bounded-memory sketch tracking "
    "the k most frequent items with counts. Deterministically checkable "
    "here because the sketch is EXACT whenever the true distinct count "
    "fits its tracking budget (5 event types << maxItemsTracked) — the "
    "result is exploded to (item, count) rows and re-sorted by (count "
    "DESC, item) so the output order never depends on sketch internals. "
    "The sketch is the point: mergeable fixed-size state per "
    "partition where an exact GROUP BY would shuffle the full key set.",
)
def q_approx_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 5)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), "event_type")
    )


@register(
    "q_corr_exact",
    """WITH s AS (
         SELECT lang,
                count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sx,
                CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                     AS BIGINT) AS sy,
                CAST(sum(n_chars * len(string_split_regex(trim(text),
                                                          '\\s+')))
                     AS BIGINT) AS sxy,
                CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
                CAST(sum(len(string_split_regex(trim(text), '\\s+'))
                         * len(string_split_regex(trim(text), '\\s+')))
                     AS BIGINT) AS syy
         FROM documents GROUP BY lang)
       SELECT lang, n,
              CAST(floor((n * 1.0 * sxy - sx * 1.0 * sy) * 1000000
                         / nullif(sqrt((n * 1.0 * sxx - sx * 1.0 * sx)
                                       * (n * 1.0 * syy - sy * 1.0 * sy)),
                                  0.0))
                   AS BIGINT) AS corr_ppm
       FROM s""",
    "EXACT-SUMS Pearson correlation (chars vs tokens per language) — the "
    "portable way to do floating statistics across engines: the five "
    "moment sums are exact integers (summation-order independent, unlike "
    "a naive corr() over doubles which varies with shuffle order), and "
    "only the FINAL formula runs in doubles, in one fixed operation "
    "order, so both engines compute bit-identical results; floored to "
    "ppm. The sums are one partial+final hash aggregate — the mergeable-"
    "moments pattern (count/sum/sum-of-squares) that underlies every "
    "distributed variance/correlation at any scale.",
)
def q_corr_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    x = F.col("n_chars")
    y = F.size(X.tokens(F.col("text"))).cast("long")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    # nullif(denominator, 0): a zero-variance group (single doc, or all
    # docs identical) has no defined correlation — NULL on both engines;
    # without the guard Spark ANSI throws DIVIDE_BY_ZERO and kills the job.
    den = F.sqrt(
        (F.col("n") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
        * (F.col("n") * 1.0 * F.col("syy") - F.col("sy") * 1.0 * F.col("sy"))
    )
    corr = (
        (F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy"))
        * 1000000
        / F.nullif(den, F.lit(0.0))
    )
    return s.select("lang", "n", F.floor(corr).cast("long").alias("corr_ppm"))


# =========================================================================
# Bloom filter accuracy attestation
# =========================================================================


@register(
    "q_bloom_fpp",
    """SELECT CAST(524288 AS BIGINT) AS m_bits,
              CAST(5 AS BIGINT) AS k,
              CAST(count(*) FILTER (WHERE event_type = 'purchase')
                   AS BIGINT) AS n_set,
              CAST(count(*) FILTER (WHERE event_type <> 'purchase')
                   AS BIGINT) AS n_probe,
              TRUE AS no_false_negatives,
              TRUE AS fp_within_bound
       FROM events""",
    "BLOOM FILTER accuracy attestation — the q_ann_recall pattern "
    "applied to the last un-attested approximate structure "
    "(operators/bloom.py, the prefilter behind q_bloom_decontaminate): "
    "build the filter over purchase event_ids (m = 2^19, k = 5), probe "
    "BOTH sides of the disjoint partition, and attest (1) ZERO FALSE "
    "NEGATIVES — every inserted key probes true, the filter's hard "
    "guarantee, any violation is an implementation bug — and (2) the "
    "measured false-positive count within 2× the conservative "
    "closed-form bound FPP ≤ (k·n/m)^k (1 − e^(−x) ≤ x, so this "
    "dominates the textbook rate with NO transcendentals): the check "
    "cross-multiplies to fp·m^k ≤ 2·|B|·(k·n)^k in DECIMAL(38,0) — "
    "integer arithmetic end to end (m^5 = 2^95 ≈ 4e28, well inside 38 "
    "digits; measured at the three SFs: 0/0/17 false positives = "
    "0/0/212.7 ppm vs bounds 0.0000/0.0024/257.8 ppm — deterministic "
    "under the seeded hashes). Exact sides (set/probe cardinalities) "
    "are oracle-checked; the filter itself uses Spark-specific "
    "xxhash64, so its quality rides on the pinned booleans (the "
    "established sketch-attestation contract). Shape: one build "
    "aggregate (bit_or over word index, constant-size collect), then a "
    "single probe scan — the probe is foldable literal array "
    "arithmetic, no join, no Python.",
)
def q_bloom_fpp(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import bloom as B

    M_BITS, K = B.DEFAULT_M_BITS, B.DEFAULT_K
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    in_a = F.col("event_type") == "purchase"
    words = B.build_bloom_words(ev.filter(in_a), "event_id", M_BITS, K)
    probe = B.might_contain(F.col("event_id"), words, M_BITS, K)
    agg = ev.agg(
        F.sum(in_a.cast("long")).alias("n_set"),
        F.sum((~in_a).cast("long")).alias("n_probe"),
        F.sum((in_a & ~probe).cast("long")).alias("fn_count"),
        F.sum((~in_a & probe).cast("long")).alias("fp_count"),
    )
    # fp * m^k <= 2 * n_probe * (k*n_set)^k, cross-multiplied in DECIMAL.
    # Saturation guard FIRST: once k*n_set >= m_bits the bound is >= 1 and
    # the attestation is vacuously true — and (k*n)^5 would blow past
    # DECIMAL(38,0) (the 64x probe factor found exactly this as an ANSI
    # overflow). Below saturation, (k*n)^5 < m^5 = 2^95 ~ 4e28, so the
    # exact compare holds to ~1e9 probe rows per check — loud failure
    # past it, never a wrap (the q_mcc headroom discipline).
    within = F.when(
        F.expr(f"{K} * n_set >= {M_BITS}"), F.lit(True)
    ).otherwise(
        F.expr(
            f"CAST(fp_count AS DECIMAL(38,0))"
            f" * CAST({M_BITS} AS DECIMAL(38,0))"
            f" * {M_BITS} * {M_BITS} * {M_BITS} * {M_BITS}"
            f" <= CAST(2 AS DECIMAL(38,0)) * n_probe"
            f"    * CAST({K} * n_set AS DECIMAL(38,0)) * ({K} * n_set)"
            f"    * ({K} * n_set) * ({K} * n_set) * ({K} * n_set)"
        )
    )
    return agg.select(
        F.lit(M_BITS).cast("long").alias("m_bits"),
        F.lit(K).cast("long").alias("k"),
        F.col("n_set").cast("long").alias("n_set"),
        F.col("n_probe").cast("long").alias("n_probe"),
        (F.col("fn_count") == 0).alias("no_false_negatives"),
        within.alias("fp_within_bound"),
    )


# =========================================================================
# Systematic sampling / sliding distinct / rolling correlation /
# incremental view maintenance
# =========================================================================


@register(
    "q_systematic_sample",
    """WITH w AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS wt
         FROM events GROUP BY user_id
       ), c AS (
         SELECT user_id, wt,
                sum(wt) OVER (ORDER BY user_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                sum(wt) OVER () AS total
         FROM w
       ), p AS (
         SELECT user_id, wt, cum, cum - wt AS cum_excl,
                greatest(total // 50, 1) AS stride,
                greatest(total // 50, 1) // 2 AS noff
         FROM c
       )
       SELECT user_id, wt, CAST(cum_excl AS BIGINT) AS cum_excl,
              CAST(least((cum + stride - noff - 1) // stride, 50)
                   - least((cum_excl + stride - noff - 1) // stride, 50)
                   AS BIGINT) AS n_hits
       FROM p
       WHERE least((cum + stride - noff - 1) // stride, 50)
             - least((cum_excl + stride - noff - 1) // stride, 50) >= 1""",
    "SYSTEMATIC (fixed-interval) weighted sampling — the classic "
    "survey-sampling design, PPS-without-replacement for units below the "
    "stride and exact multiplicity above it: lay every user's event count "
    "end to end on the cumulative-weight line, take the k=50 equally "
    "spaced selection points noff + j*stride for j = 0..49 (stride = "
    "greatest(W div 50, 1) — guarded so W < 50 degrades to sample-"
    "everything instead of a divide-by-zero; deterministic midpoint "
    "offset stride div 2 — no RNG anywhere), and a unit is selected once "
    "per point inside its [cum_excl, cum) span. n_hits is the closed-"
    "form point count least((cum+stride-noff-1) div stride, 50) - "
    "least((cum_excl+stride-noff-1) div stride, 50) — pure int64 with "
    "BOTH numerators provably nonnegative (cum_excl >= 0 and stride - "
    "noff - 1 >= 0), so the engines' shared TRUNCATING division equals "
    "floor division everywhere (the unshifted form undercounted the "
    "unit straddling the FIRST point, where trunc(-x/stride) = 0 but "
    "floor = -1 — pinned against a brute-force "
    "point-enumeration reference in tests/test_properties.py), and the "
    "least(_, 50) caps enforce j <= 49 so sum(n_hits) == min(50, W) "
    "EXACTLY (for W >= 50 the largest point noff + 49*stride < "
    "50*stride <= W always lands inside the line). Shape: the cumulative line "
    "is operators/topk.global_prefix_sum — the TeraSort range shuffle "
    "with per-partition cumulative windows and a broadcast P-row offset "
    "table (the ONLY ordered window is over partition totals), so the "
    "global prefix sum that makes systematic sampling look inherently "
    "sequential distributes; the scalar (total, stride) frame broadcasts "
    "back: one agg + one range shuffle of the |users| table, "
    "never the fact table.",
)
def q_systematic_sample(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.topk import (
        global_prefix_sum,
    )

    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("wt"))
    c = global_prefix_sum(w, ["user_id"], "wt")
    tot = w.agg(F.sum("wt").alias("total")).select(
        F.expr("greatest(total div 50, 1)").alias("stride"),
        F.expr("greatest(total div 50, 1) div 2").alias("noff"),
    )
    p = c.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "wt",
        (F.col("cum") - F.col("wt")).alias("cum_excl"),
        "cum",
        "stride",
        "noff",
    )
    return p.select(
        "user_id",
        "wt",
        "cum_excl",
        F.expr(
            "least((cum + stride - noff - 1) div stride, 50)"
            " - least((cum_excl + stride - noff - 1) div stride, 50)"
        ).alias("n_hits"),
    ).filter(F.col("n_hits") >= 1)


@register(
    "q_sliding_distinct",
    """WITH g AS (
         SELECT DISTINCT
                CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600)
                     - INTERVAL (k) HOUR AS TIMESTAMP) AS window_start,
                user_id
         FROM events CROSS JOIN range(3) t(k)
       )
       SELECT window_start,
              window_start + INTERVAL 3 HOUR AS window_end,
              CAST(count(*) AS BIGINT) AS n_users
       FROM g GROUP BY window_start""",
    "EXACT sliding-window COUNT DISTINCT (3 h window, 1 h slide): "
    "distinct users active in each overlapping window — the sliding "
    "engagement metric (DAU-style) whose aggregate is NOT decomposable: "
    "distinct cannot be merged across hours the way q_window_sliding's "
    "counts/sums can, so the correct distributed plan materializes "
    "(window, user) membership explicitly. Spark: groupBy(F.window(3h, "
    "1h), user) — each event lands in exactly 3 windows map-side — then "
    "a second hash agg counts the deduped membership rows; both "
    "shuffles key on (window, user) / window. The oracle builds the "
    "same 3-offset grid with a range() cross join. The "
    "membership table is |windows|x|active users| — bounded by "
    "engagement, not event volume — and both aggs are partial-first; "
    "the approximate escape for wider windows is q_hll_shard_merge's "
    "mergeable sketch, which trades exactness for O(|windows|) state.",
)
def q_sliding_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    member = ev.groupBy(
        F.window("ts", "3 hours", "1 hour").alias("win"), "user_id"
    ).agg(F.lit(1))
    return (
        member.groupBy(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


#: Shared corr-from-exact-moments formula text (identical IEEE op sequence
#: on both engine legs — the q_pca_project_2d portability contract: exact
#: int64 moments, exact int→double conversion below 2^53, correctly
#: rounded sqrt/divide, floor is portable on identical doubles).
_ROLLCORR_E6 = (
    "CAST(floor((CAST(num AS DOUBLE)"
    " / (sqrt(CAST(varx AS DOUBLE)) * sqrt(CAST(vary AS DOUBLE))))"
    " * 1000000e0) AS BIGINT)"
)


@register(
    "q_rolling_corr",
    f"""WITH h AS (
         SELECT date_trunc('hour', ts) AS hour_ts,
                CAST(sum(CASE WHEN event_type = 'click'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS y
         FROM events GROUP BY 1
       ), b AS (
         SELECT date_trunc('hour', min(ts)) AS mn,
                date_trunc('hour', max(ts)) AS mx
         FROM events
       ), spine AS (
         SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
         FROM b
       ), s AS (
         SELECT sp.hour_ts, coalesce(h.x, 0) AS x, coalesce(h.y, 0) AS y
         FROM spine sp LEFT JOIN h USING (hour_ts)
       ), m AS (
         SELECT hour_ts,
                CAST(count(*) OVER w AS BIGINT) AS n,
                CAST(sum(x) OVER w AS BIGINT) AS sx,
                CAST(sum(y) OVER w AS BIGINT) AS sy,
                CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                CAST(sum(y * y) OVER w AS BIGINT) AS syy,
                CAST(sum(x * y) OVER w AS BIGINT) AS sxy
         FROM s
         WINDOW w AS (ORDER BY hour_ts
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
       ), v AS (
         SELECT hour_ts, n,
                n * sxy - sx * sy AS num,
                n * sxx - sx * sx AS varx,
                n * syy - sy * sy AS vary
         FROM m
       )
       SELECT hour_ts, n,
              CASE WHEN varx = 0 OR vary = 0 THEN NULL
                   ELSE {_ROLLCORR_E6} END AS corr_e6
       FROM v""",
    "ROLLING Pearson correlation between two event series (hourly click "
    "cents vs purchase cents) over a trailing 6-hour frame — the "
    "co-movement monitor behind metric-pair drift alerts, exact and "
    "engine-portable where a naive corr() over doubles is neither: the "
    "series are gap-filled onto the dense hour spine (q_gapfill_spine "
    "mechanic — absent hours are REAL zeros, not absent frames), the "
    "five frame moments are exact int64 window sums, and only the final "
    "formula (n·sxy-sx·sy)/(sqrt(n·sxx-sx²)·sqrt(n·syy-sy²)) touches "
    "doubles — every intermediate < 2^53, sqrt/divide correctly "
    "rounded, identical op-sequence text on both legs "
    "(the q_pca_project_2d contract). Zero-variance frames emit NULL "
    "via an exact integer guard. Shape: ONE partial-first hash agg "
    "compresses the fact table to the hour domain; the spine join "
    "broadcasts the hourly aggregate and the ordered frame windows run "
    "over the BOUNDED hour spine (~9k rows/year regardless of TB "
    "scanned) — the q_acf_hourly/q_ewma_crossover domain-compression "
    "precedent.",
)
def q_rolling_corr(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", cents(F.col("value")))
            .otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents(F.col("value")))
            .otherwise(F.lit(0))
        ).alias("y"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        )
    )
    s = spine.join(F.broadcast(h), "hour_ts", "left").select(
        "hour_ts",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("hour_ts").rowsBetween(-5, 0)
    m = s.select(
        "hour_ts",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    v = m.select(
        "hour_ts",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary"),
    )
    return v.select(
        "hour_ts",
        "n",
        F.when(
            (F.col("varx") == 0) | (F.col("vary") == 0), F.lit(None)
        )
        .otherwise(F.expr(_ROLLCORR_E6))
        .cast("long")
        .alias("corr_e6"),
    )


@register(
    "q_ivm_agg_delta",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) * 100
                   // count(*) AS BIGINT) AS avg_cents_e2
       FROM events
       WHERE event_id % 10 = 0
          OR (event_id % 10 <> 0 AND event_id % 7 <> 0)
       GROUP BY event_type""",
    "Algebraic INCREMENTAL VIEW MAINTENANCE with retractions — the "
    "materialized-aggregate refresh that applies a CDC batch (inserts "
    "AND deletes) to a standing per-group view WITHOUT rescanning the "
    "base: base view = agg over the 90% slice (event_id%10<>0), delta = "
    "signed multiset (inserts %10=0 at +1, deletes %7=0 of the base at "
    "-1), maintenance = ONE agg over the delta merged into the view by "
    "a full-outer join on the group key with n' = n + Σsign, s' = s + "
    "Σsign·cents (count/sum are self-maintainable; avg re-derives from "
    "the maintained pair — the classic IVM algebra), empty groups "
    "dropped by the exact n' > 0 guard. The oracle RECOMPUTES the "
    "post-CDC state from scratch — value equality IS the IVM "
    "correctness theorem for this view. Shape: the delta agg touches "
    "only changed rows, the view-delta join keys on |groups|, and every "
    "agg is partial-first; the refresh cost is O(|delta| + "
    "|groups|), the exact reason warehouses maintain aggregates "
    "incrementally instead of recomputing (q_merge_upsert owns the "
    "storage MERGE of the same idea; this key pins the algebra).",
)
def q_ivm_agg_delta(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 10 != 0)
    view = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(cents(F.col("value"))).alias("s0"),
    )
    inserts = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_type", F.lit(1).alias("sign"), cents(F.col("value")).alias("c")
    )
    deletes = base.filter(F.col("event_id") % 7 == 0).select(
        "event_type", F.lit(-1).alias("sign"), cents(F.col("value")).alias("c")
    )
    dagg = (
        inserts.unionAll(deletes)
        .groupBy("event_type")
        .agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("sign") * F.col("c")).alias("ds"),
        )
    )
    merged = (
        view.join(dagg, "event_type", "full_outer")
        .select(
            "event_type",
            (
                F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce("s0", F.lit(0)) + F.coalesce("ds", F.lit(0))
            ).alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return merged.select(
        "event_type",
        "n_rows",
        "sum_cents",
        F.expr("sum_cents * 100 div n_rows").alias("avg_cents_e2"),
    )


@register(
    "q_stream_ivm_retract",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) * 100
                   // count(*) AS BIGINT) AS avg_cents_e2
       FROM events
       WHERE event_id % 10 = 0
          OR (event_id % 10 <> 0 AND event_id % 7 <> 0)
       GROUP BY event_type""",
    "STREAMING incremental view maintenance WITH RETRACTIONS — the "
    "continuously-maintained aggregate fed by a CDC op-log that carries "
    "DELETES, the one streaming-merge algebra no other stream key "
    "exercises (quantile/CMS/KMV/linreg merges are all non-negative "
    "monoids; this state goes DOWN): each replayed event expands "
    "in-stream to its op-log rows — one +1 insert, plus a -1 retraction "
    "for the base rows the q_ivm_agg_delta scenario later deletes "
    "(event_id%7=0 of the %10<>0 base) — and foreachBatch folds signed "
    "(Σsign, Σsign·cents) into parquet state via merge_distributive_parquet "
    "across 2 REAL micro-batches (signed sums are still a commutative "
    "monoid, so the batch-id-idempotent additive MERGE machinery "
    "applies unchanged; a replayed batch cannot double-retract). Final "
    "state ≡ the batch recompute oracle — the same IVM correctness "
    "theorem as q_ivm_agg_delta, proven through the streaming path. "
    "Shape: scan-side op-log explode, per-batch |groups| partial agg, "
    "|groups|-keyed additive MERGE — the "
    "O(|delta|) continuously-fresh aggregate a warehouse otherwise "
    "recomputes nightly.",
)
def q_stream_ivm_retract(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents
    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_distributive_parquet,
    )
    from real_time_rides_data_pipeline_spark.sources.files import (
        parquet_stream,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    inp = stage_batches("ivmretract", sf_dir, lambda: [ev.repartition(2)])
    run_dir = _scratch_dir(prefix="ivmretract_run_")
    state, ckpt = f"{run_dir}/view", f"{run_dir}/ckpt"
    writer = scoped_writer_session(spark, shuffle_partitions=4)
    stream = parquet_stream(writer, inp, ev.schema, max_files_per_trigger=1)

    signs = F.when(
        (F.col("event_id") % 10 != 0) & (F.col("event_id") % 7 == 0),
        F.array(F.lit(1), F.lit(-1)),  # inserted, later retracted
    ).otherwise(F.array(F.lit(1)))
    ops = stream.select(
        "event_type",
        cents(F.col("value")).alias("c"),
        F.explode(signs).alias("sign"),
    )

    def fold(batch_df, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.sum("sign").alias("n_rows"),
            F.sum(F.col("sign") * F.col("c")).alias("sum_cents"),
        )
        merge_distributive_parquet(
            batch_df.sparkSession,
            partial,
            state,
            keys=("event_type",),
            agg_spec={"n_rows": "sum", "sum_cents": "sum"},
            batch_id=batch_id,
        )

    run_to_completion(foreach_batch_merge(ops, ckpt, fold))

    return (
        spark.read.parquet(state)
        .filter(F.col("n_rows") > 0)
        .select(
            "event_type",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
            F.expr("sum_cents * 100 div n_rows").alias("avg_cents_e2"),
        )
    )
