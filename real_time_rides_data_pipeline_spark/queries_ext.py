"""Extension query registry — LLM-data-pipeline operators (SURVEY.md §2.9)
plus streaming batch-twins and OLAP surface extensions.

Same contract as queries.py: Spark callable + DuckDB oracle (None → rows-only).
The documents fixture has NO natural near-duplicates (max pairwise jaccard
0.03, max cosine 0.51 at sf0.01 — measured), so the dedup demonstrations
inject deterministic perturbed copies derived from the table itself
(doc_id + 1_000_000, truncated text) and find exactly those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions import text as X
from real_time_rides_data_pipeline_spark.functions import vectors as V
from real_time_rides_data_pipeline_spark.functions.precision import floor_round
from real_time_rides_data_pipeline_spark.operators import (
    keep_first_per_key,
    latest_per_key,
)
from real_time_rides_data_pipeline_spark.operators import multimodal as MM
from real_time_rides_data_pipeline_spark.operators import similarity as SIM
from real_time_rides_data_pipeline_spark.operators import textdedup as TD
from real_time_rides_data_pipeline_spark.registry import _t, register
from real_time_rides_data_pipeline_spark.scratch import scratch_dir as _scratch_dir
from real_time_rides_data_pipeline_spark.session import scoped_writer_session
from real_time_rides_data_pipeline_spark.streaming.replay import (
    replay_stream,
    run_to_completion,
    sentinel_frame,
)

# =========================================================================
# JSON extraction / as-of (SURVEY §2.9 q_json_extract, q_asof_latest)
# =========================================================================


@register(
    "q_json_extract",
    """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k,
              user_id
       FROM events""",
    "Single-path JSON extraction via get_json_object (vs q_json_parse's "
    "whole-schema from_json).",
)
def q_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", parallel=True)
    prop_k = F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k")
    return ev.select("event_id", prop_k, "user_id")


@register(
    "q_asof_latest",
    """SELECT user_id, ts AS asof_ts, value AS asof_value, event_id
       FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
       QUALIFY row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) = 1""",
    "As-of lookup: latest value per key at a point in time — the batch twin "
    "of streaming keep-latest state. One window shuffle on the key.",
)
def q_asof_latest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    return latest_per_key(ev).select(
        "user_id",
        F.col("ts").alias("asof_ts"),
        F.col("value").alias("asof_value"),
        "event_id",
    )


# =========================================================================
# Deduplication suite (q_exact_dedup, q_minhash_neardup, q_simhash_neardup,
# q_ngram_jaccard, q_embed_neardup)
# =========================================================================

_DUPED_DOCS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


def _duped_docs(spark, sf_dir) -> DataFrame:
    """documents ∪ exact copies of every 5th doc (id-shifted) — the exact-dup
    corpus."""
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return d.unionAll(dups)


def _neardup_docs(spark, sf_dir) -> DataFrame:
    """documents ∪ near-copies of every 5th doc: last 2 words dropped —
    high-jaccard (not exact) pairs for MinHash/SimHash to find."""
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    truncated = F.concat_ws(
        " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)).cast("int"))
    )
    near = (
        d.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", truncated)
    )
    return d.unionAll(near)


@register(
    "q_exact_dedup",
    f"""SELECT doc_id, text FROM ({_DUPED_DOCS_SQL})
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""",
    "Exact dedup, deterministic survivor (min doc_id per text) — "
    "row_number()=1, one hash shuffle. Deduping on xxhash64(text) "
    "first would shrink the shuffle to 8-byte keys.",
)
def q_exact_dedup(spark, sf_dir):
    return keep_first_per_key(
        _duped_docs(spark, sf_dir), keys=("text",), order_by=("doc_id",)
    ).select("doc_id", "text")


@register(
    "q_doc_fingerprint",
    """SELECT doc_id, md5(text) AS fp, length(text) AS n_chars FROM documents""",
    "Content fingerprint (md5) — the exact-dup key at scale; engine-portable.",
)
def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "q_minhash_neardup",
    None,  # xxhash64 signatures are Spark-specific → rows-only
    "MinHash(16)+LSH(4 bands) near-dup over documents ∪ injected near-copies; "
    "exact-jaccard verified ≥ 0.5. Finds the ~n/5 injected pairs.",
)
def q_minhash_neardup(spark, sf_dir):
    return TD.minhash_near_duplicates(_neardup_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


@register(
    "q_simhash_neardup",
    None,  # xxhash64-based signature → rows-only
    "SimHash(32-bit)+byte-band candidates, Hamming ≤ 3 verified, over "
    "documents ∪ injected near-copies.",
)
def q_simhash_neardup(spark, sf_dir):
    return TD.simhash_near_duplicates(_neardup_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


@register(
    "q_minhash_est_jaccard",
    """WITH t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
       ), s AS (
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))]) AS sh
         FROM t
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_size,
              CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT)
                  AS union_size,
              TRUE AS est_ok
       FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""",
    "MinHash ACCURACY attestation — the value-checked companion to the "
    "rows-only q_minhash_neardup: over every consecutive doc pair, compute "
    "the exact 3-shingle Jaccard (intersection/union sizes, fully "
    "oracle-checked) AND the 64-hash MinHash estimate (matching signature "
    "positions / 64), then attest |estimate - exact| <= 0.35 via pure "
    "integer cross-multiplication (100*|matches*union - inter*64| <= "
    "35*64*union — no float division anywhere). The xxhash64 signatures "
    "are Spark-specific so the estimate itself cannot be recomputed by "
    "DuckDB; the oracle checks the exact side and the attestation column "
    "is literal TRUE — Hoeffding puts per-pair failure at 2*exp(-2*64*"
    "0.35^2) ~ 3e-7, and the seeded hashes make the check deterministic "
    "(verified at sf0.001/0.01/0.1). Signature table is localCheckpoint-"
    "materialized before the self-join (same 8x rationale as "
    "minhash_near_duplicates). Scale: signatures are scan-side array "
    "lambdas; the pair join is an equi-join on doc_id.",
)
def q_minhash_est_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    # shingles_col: one word_shingles evaluation feeds both the 64-hash
    # signature and the exact-jaccard `sh` sets (0.76×, OPTIMIZATION_r16.md).
    s = TD.with_minhash_signature(d, n_hashes=64, shingles_col="sh").select(
        "doc_id", "sh", F.col("minhash")
    )
    # Both self-join branches would recompute the 64x xxhash64 chain.
    s = s.localCheckpoint(eager=True)
    a = s.alias("a")
    b = s.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("sh").alias("sh_b"),
        F.col("minhash").alias("sig_b"),
    )
    j = a.join(b, F.col("a.doc_id") == F.col("join_id"))
    matches = F.size(
        F.filter(
            F.zip_with("minhash", "sig_b", lambda x, y: x == y), lambda e: e
        )
    ).cast("long")
    inter = F.size(F.array_intersect("sh", "sh_b")).cast("long")
    uni = F.size(F.array_union("sh", "sh_b")).cast("long")
    return j.select(
        F.col("a.doc_id").alias("id_a"),
        (F.col("a.doc_id") + 1).alias("id_b"),
        inter.alias("inter_size"),
        uni.alias("union_size"),
        (
            100 * F.abs(matches * uni - inter * 64) <= 35 * 64 * uni
        ).alias("est_ok"),
    ).orderBy("id_a")


@register(
    "q_simhash_est_hamming",
    """WITH t AS (
         SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
       )
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(list_distinct(w))) AS BIGINT) AS sum_union,
              CAST(sum(len(list_distinct(w[1:len(w)-(len(w)*1)//4])))
                   AS BIGINT) AS sum_inter_q1,
              CAST(sum(len(list_distinct(w[1:len(w)-(len(w)*2)//4])))
                   AS BIGINT) AS sum_inter_q2,
              CAST(sum(len(list_distinct(w[1:len(w)-(len(w)*3)//4])))
                   AS BIGINT) AS sum_inter_q3,
              TRUE AS order_invariant,
              TRUE AS mono_12,
              TRUE AS mono_23
       FROM t""",
    "SimHash ACCURACY attestation — the value-checked companion to the "
    "rows-only q_simhash_neardup (the q_minhash_est_jaccard pattern): "
    "each doc is paired with its own token-prefix keeping the first "
    "3/4, 2/4, 1/4 of tokens, the EXACT overlap sides (distinct-token "
    "prefix/full set sizes — prefix ⊆ full, so intersection = |prefix "
    "set| and union = |full set|) are fully oracle-checked as BIGINT "
    "sums, and two implementation properties are attested as booleans "
    "the oracle pins to literal TRUE: (1) ORDER INVARIANCE — "
    "hamming(sig(w), sig(reverse(w))) = 0 for every doc, exact by "
    "construction because the signature is a commutative integer vote "
    "sum per bit, so any violation is an implementation bug, and "
    "(2) MONOTONE DEGRADATION — total hamming distance strictly grows "
    "as the kept prefix shrinks 3/4 → 2/4 → 1/4 (corpus-level sums "
    "over thousands of pairs, where the per-pair 32-bit noise "
    "concentrates away; verified deterministic at sf0.001/0.01/0.1 "
    "with the seeded xxhash64). Per-pair hamming bounds at 32 bits are "
    "the honest ceiling Hoeffding allows (2·exp(-2·32·t²) needs "
    "t≈0.45 for corpus-safe per-pair claims — too weak to attest), "
    "which is why the distribution-level attestation is the right "
    "instrument. Scale: everything is scan-side array lambdas + one "
    "single-row aggregate; no join, no shuffle beyond the final "
    "1-row combine.",
)
def q_simhash_est_hamming(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select("text")
    base = d.select(X.tokens(F.col("text")).alias("w")).withColumn(
        "n", F.size("w")
    )

    def sig(arr):
        return V.simhash_bits(
            F.transform(arr, lambda t: F.xxhash64(t)), 32
        )

    def prefix(k):  # keep n - (n*k) div 4 tokens (k quarters dropped)
        return F.expr(f"slice(w, 1, n - (n * {k}) div 4)")

    # Full-tokens signature PROJECTED ONCE and reused by all four hamming
    # columns — CollapseProject declines to inline a non-cheap alias that
    # is referenced more than once, so this stages 8 signature
    # evaluations down to 5 (measured 2026-08-15 at the 64x probe
    # factor: 32.9 → 25.7 s, slope 0.79 → 0.65).
    staged = base.withColumn("s0", sig(F.col("w")))
    per_doc = staged.select(
        F.size(F.array_distinct("w")).alias("u"),
        *[
            F.size(F.array_distinct(prefix(k))).alias(f"i{k}")
            for k in (1, 2, 3)
        ],
        *[
            V.hamming64(F.col("s0"), sig(prefix(k))).alias(f"h{k}")
            for k in (1, 2, 3)
        ],
        V.hamming64(F.col("s0"), sig(F.reverse(F.col("w")))).alias(
            "h_ord"
        ),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("u").alias("sum_union"),
        F.sum("i1").alias("sum_inter_q1"),
        F.sum("i2").alias("sum_inter_q2"),
        F.sum("i3").alias("sum_inter_q3"),
        (F.max("h_ord") == 0).alias("order_invariant"),
        (F.sum("h1") < F.sum("h2")).alias("mono_12"),
        (F.sum("h2") < F.sum("h3")).alias("mono_23"),
    )


# --- VALUE-CHECKED candidate generation for the near-dup pair (the
# --- q_minhash_neardup / q_simhash_neardup pipelines' deterministic
# --- halves, hash-matched instead of rows-only)

#: Near-dup corpus (documents ∪ last-2-words-truncated copies of every
#: 5th doc) as a DuckDB CTE — the SQL twin of ``_neardup_docs`` (same
#: expression as the q_dup_clusters oracle's first injected branch).
_NEARDUP_CORPUS_CTE = """tok AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                array_to_string(w[1:greatest(len(w) - 2, 1)], ' ')
         FROM tok WHERE doc_id % 5 = 0
       )"""


def _minhash_pipeline_ctes() -> str:
    """Shared CTE chain of the portable-MinHash LSH pipeline (corpus →
    shingles → md5-60-bit base hashes → 16 affine min-hash signature →
    band keys → candidate pairs). Consumed by _minhash_bands_oracle
    (verified-pair output) and q_minhash_cc_clusters (CC over the
    verified edges)."""
    p = TD.MINHASH_P
    sig_cols = ",\n                ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p})) AS m{i}"
        for i, (a, b) in enumerate(TD.MINHASH_AB)
    )
    band_selects = "\n         UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('_', m{4 * b}, "
        f"m{4 * b + 1}, m{4 * b + 2}, m{4 * b + 3}) AS band_key FROM sig"
        for b in range(4)
    )
    return f"""{_NEARDUP_CORPUS_CTE}, t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM corpus
       ), s AS (
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))])
                    AS sh
         FROM t
       ), hb AS (
         SELECT doc_id,
                list_transform(sh, x ->
                  ('0x' || substr(md5(x), 1, 15))::BIGINT % {p}) AS hs
         FROM s
       ), sig AS (
         SELECT doc_id,
                {sig_cols}
         FROM hb
       ), bands AS (
         {band_selects}
       ), cand AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS n_shared_bands
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )"""


def _minhash_bands_oracle() -> str:
    """DuckDB twin of the FULL portable-MinHash LSH pipeline: shingle →
    md5-60-bit base hash mod 2^31-1 → 16 fixed affine min-hashes
    (operators/textdedup.MINHASH_AB, literals shared verbatim with the
    Spark leg) → 4-row band keys → band-bucket self-join → exact
    intersection/union verify on the candidates."""
    return f"""WITH {_minhash_pipeline_ctes()}
       SELECT c.id_a, c.id_b, c.n_shared_bands,
              CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
                  AS inter_size,
              CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT)
                  AS union_size,
              2 * len(list_intersect(sa.sh, sb.sh))
                >= len(list_distinct(list_concat(sa.sh, sb.sh))) AS is_dup
       FROM cand c JOIN s sa ON sa.doc_id = c.id_a
                   JOIN s sb ON sb.doc_id = c.id_b"""


@register(
    "q_minhash_bands",
    _minhash_bands_oracle(),
    "VALUE-CHECKED MinHash+LSH candidate generation — "
    "q_minhash_neardup's deterministic half, hash-matched instead of "
    "rows-only: the identical pipeline shape "
    "(16-hash signature, 4-row bands, band-bucket self-join, exact "
    "shingle-set verify on candidates only) with the ENGINE-PORTABLE "
    "hash family — one md5-60-bit base hash per shingle mod 2^31-1, 16 "
    "fixed affine maps (a_i*h + b_i) mod 2^31-1 (frozen literals shared "
    "verbatim by both legs; every intermediate < 2^62, BIGINT-safe on "
    "both engines) — so DuckDB recomputes the EXACT candidate set: "
    "which pairs collide, in how many bands, and their exact "
    "intersection/union sizes with the integer-only 2*inter >= union "
    "threshold test, all hash-checked. Shape: signatures are "
    "scan-side array lambdas staged so md5 runs ONCE per shingle "
    "(affine reuse, not 16 digests); banding explodes a constant 4 rows "
    "per doc; the self-join is an equi-join on (band_idx, band_key) "
    "carrying 8-byte ids — never text; the exact verify pulls shingle "
    "arrays ONLY for candidates (~n/5 injected pairs, not N²). "
    "localCheckpoint before the self-join for the documented 8x "
    "signature-recompute reason (operators/textdedup.py).",
)
def q_minhash_bands(spark, sf_dir):
    return _minhash_verified_pairs(spark, sf_dir)


def _minhash_verified_pairs(spark, sf_dir) -> DataFrame:
    """Portable-MinHash LSH candidates + exact intersection/union verify —
    the shared Spark leg of q_minhash_bands (pair output) and
    q_minhash_cc_clusters (CC over the verified edges)."""
    # shingles_col: the shingle array is computed ONCE in the signature
    # projection and shared with the exact verify (0.63× on the signature
    # pass against evaluating word_shingles twice per row in the same
    # projection, OPTIMIZATION_r16.md).
    s = TD.with_minhash_signature_portable(
        _neardup_docs(spark, sf_dir), shingles_col="sh"
    ).select("doc_id", "sh", "minhash")
    # Both self-join branches AND the verify join would re-run the md5
    # signature chain — materialize once (minhash_near_duplicates
    # rationale).
    s = s.localCheckpoint(eager=True)
    banded = s.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col("minhash")[i] for i in range(4 * b, 4 * b + 4)],
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    sh = s.select("doc_id", "sh")
    j = cand.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    return j.select(
        "id_a",
        "id_b",
        "n_shared_bands",
        inter.alias("inter_size"),
        uni.alias("union_size"),
        (F.lit(2) * inter >= uni).alias("is_dup"),
    )


def _simhash_bands_oracle() -> str:
    """DuckDB twin of the portable-SimHash band pipeline: md5-60-bit
    token hashes → 60-bit vote-sign signature → 4 15-bit bands → band
    self-join → exact Hamming ≤ 3 verify (bit_count of xor)."""
    return f"""WITH {_NEARDUP_CORPUS_CTE}, hs AS (
         SELECT doc_id,
                list_transform(string_split_regex(trim(text), '\\s+'),
                  t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
         FROM corpus
       ), sig AS (
         SELECT doc_id,
                CAST(list_sum([CASE WHEN list_sum(
                          [CASE WHEN (x >> k) & 1 = 1 THEN 1 ELSE -1 END
                           for x in h]) > 0
                       THEN (CAST(1 AS BIGINT) << k)
                       ELSE CAST(0 AS BIGINT) END
                       for k in range(60)]) AS BIGINT) AS simhash
         FROM hs
       ), bands AS (
         SELECT doc_id, simhash, CAST(t.k AS INTEGER) AS band_idx,
                (simhash >> CAST(15 * t.k AS INTEGER)) & 32767 AS band_val
         FROM sig CROSS JOIN range(4) t(k)
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(count(*) AS BIGINT) AS n_shared_bands,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                  AS hamming
       FROM bands a JOIN bands b
         ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
       GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash
       HAVING bit_count(xor(a.simhash, b.simhash)) <= 3"""


@register(
    "q_simhash_bands",
    _simhash_bands_oracle(),
    "VALUE-CHECKED SimHash near-dup pipeline — q_simhash_neardup, "
    "hash-matched instead of rows-only, same shape (vote-sign signature, 4 bands — pigeonhole: "
    "Hamming <= 3 < 4 bands guarantees at least one equal band, recall "
    "1 — candidate self-join, exact Hamming <= 3 verify via "
    "bit_count(xor)) with the ENGINE-PORTABLE md5-60-bit token hash so "
    "DuckDB recomputes signatures, candidate pairs, shared-band counts "
    "AND exact Hamming distances bit-for-bit. This sibling RUNS the "
    "widened configuration the rows-only key documents as its scale "
    "path: 60-bit signature, 15-bit bands — measured on this fixture's "
    "concentrated vocabulary, the 32-bit/byte-band config collapses "
    "(nearly every pair lands within Hamming 3 of a shared-token-mass "
    "signature: 185k output rows at sf0.1 vs 1.4k at 60 bits catching "
    "915/1000 injected near-copies). The signature is a commutative "
    "per-bit integer vote sum — pure scan-side JVM array lambdas, one "
    "constant 4-row band explode, then an equi-join on (band_idx, "
    "band_val) carrying (id, 8-byte sig) only; verify is integer xor "
    "on the candidates, never text.",
)
def q_simhash_bands(spark, sf_dir):
    signed = _neardup_docs(spark, sf_dir).select(
        "doc_id",
        V.simhash_bits(
            F.transform(X.tokens(F.col("text")), lambda t: X.md5_int60(t)),
            60,
        ).alias("simhash"),
    )
    signed = signed.localCheckpoint(eager=True)
    banded = signed.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 15 * k)
                    .bitwiseAND(F.lit(32767))
                    .cast("long")
                    for k in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return cand.select(
        "id_a",
        "id_b",
        "n_shared_bands",
        V.hamming64(F.col("sig_a"), F.col("sig_b")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= 3)


@register(
    "q_minhash_cc_clusters",
    f"""WITH RECURSIVE {_minhash_pipeline_ctes()}, ver AS (
         SELECT c.id_a AS src, c.id_b AS dst
         FROM cand c JOIN s sa ON sa.doc_id = c.id_a
                     JOIN s sb ON sb.doc_id = c.id_b
         WHERE 2 * len(list_intersect(sa.sh, sb.sh))
               >= len(list_distinct(list_concat(sa.sh, sb.sh)))
       ), sym AS (
         SELECT src, dst FROM ver UNION SELECT dst, src FROM ver
       ), walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM corpus
         UNION
         SELECT sym.dst, walk.lbl FROM walk JOIN sym ON sym.src = walk.id
       )
       SELECT id AS doc_id, min(lbl) AS cluster_rep,
              (id = min(lbl)) AS keep
       FROM walk GROUP BY id""",
    "END-TO-END MinHash dedup CLUSTERING, value-checked at every stage — "
    "the honest composition the near-dup family builds toward: REAL LSH "
    "candidate generation (q_minhash_bands' portable-hash banding — "
    "unlike q_dup_clusters, whose edges come from the id-structured "
    "join, here even the banding's probabilistic RECALL is part of the "
    "checked value), exact integer jaccard >= 0.5 verify on candidates "
    "only, then connected components (alternating large-star/small-star, "
    "operators/graph.py — O(log diameter) rounds) labeling every corpus "
    "doc with its cluster representative (min doc_id) and the SemDeDup-"
    "style keep flag. Oracle = the same pipeline in DuckDB SQL + "
    "recursive-CTE reachability. Scale: the exact dedup recipe — "
    "scan-side signatures, constant-factor band explode, equi-joins on "
    "8-byte keys, CC without label-prop's linear tail; survivors feed "
    "keep_first_per_key (q_dedup_survivorship) downstream.",
)
def q_minhash_cc_clusters(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    # The full banding + exact-verify pipeline runs fresh every invocation
    # (no cross-invocation staging); connected_components eagerly
    # checkpoints the edge set, so the pair machinery executes exactly
    # once per invocation even though the CC loop re-reads edges.
    pairs = (
        _minhash_verified_pairs(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ids = _neardup_docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    # Banding aggregates per (id_a, id_b) — the pair set is provably
    # distinct, so CC skips its defensive edge shuffle.
    cc = connected_components(ids, pairs, assume_distinct_edges=True)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_rep"),
        (F.col("id") == F.col("component")).alias("keep"),
    )


@register(
    "q_dup_clusters",
    """WITH RECURSIVE tok AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         FROM documents
       ), corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                array_to_string(w[1:greatest(len(w) - 2, 1)], ' ')
         FROM tok WHERE doc_id % 5 = 0
         UNION ALL
         SELECT doc_id + 2000000,
                array_to_string(w[1:greatest(len(w) - 4, 1)], ' ')
         FROM tok WHERE doc_id % 5 = 0
       ), s AS (
         -- concat_ws (not ||): skips NULL words like Spark's concat_ws,
         -- so sub-3-token docs shingle identically on both engines
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))]) AS sh
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM corpus)
       ), edges AS (
         SELECT a.doc_id AS src, b.doc_id AS dst
         FROM s a JOIN s b ON b.doc_id = a.doc_id + 1000000
         WHERE 2 * len(list_intersect(a.sh, b.sh))
               >= len(list_distinct(list_concat(a.sh, b.sh)))
       ), sym AS (
         SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
       ), walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM corpus
         UNION
         SELECT sym.dst, walk.lbl FROM walk JOIN sym ON sym.src = walk.id
       )
       SELECT id AS doc_id, min(lbl) AS cluster_rep
       FROM walk GROUP BY id""",
    "Pair→CLUSTER dedup: a chained near-dup corpus (original → 2-word "
    "truncation → 4-word truncation per 5th doc) yields candidate edges by "
    "id-structured equi-join with an EXACT integer jaccard threshold "
    "(2·|∩| ≥ |∪| ⇔ j ≥ 0.5 — no float), then connected components "
    "(alternating large-star/small-star, operators/graph.py — O(log "
    "diameter) rounds) labels every doc with its cluster representative = "
    "min doc_id. Transitive: the 4-word variant joins its original only "
    "THROUGH the middle node. Oracle = recursive-CTE reachability in "
    "DuckDB.",
)
def q_dup_clusters(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    toks = X.tokens(F.col("text"))

    def truncated(drop: int, offset: int):
        # Synthetic variant ids live in the +1e6/+2e6 bands; a fixture with
        # doc_id >= 1e6 would silently collide, so the precondition is
        # enforced IN the plan (per-row, no extra driver pass) — the guard
        # produces the output column, so Catalyst cannot prune it.
        guarded_id = F.when(
            F.col("doc_id") < 1_000_000, F.col("doc_id") + offset
        ).otherwise(
            F.raise_error(
                F.lit(
                    "q_dup_clusters: doc_id >= 1_000_000 collides with the "
                    "synthetic near-dup id bands — re-derive the offsets"
                )
            ).cast("long")
        )
        return d.filter(F.col("doc_id") % 5 == 0).select(
            guarded_id.alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    toks, 1, F.greatest(F.size(toks) - drop, F.lit(1)).cast("int")
                ),
            ).alias("text"),
        )

    corpus = d.unionAll(truncated(2, 1_000_000)).unionAll(truncated(4, 2_000_000))
    # Checkpoint the shingled corpus: the candidate self-join consumes it
    # on BOTH sides and the CC vertex set reads its ids — the static plan
    # otherwise re-derives the 3-branch union + shingle pipeline three
    # times (6 parquet scans, OPTIMIZATION_r15.md).
    s = corpus.select(
        "doc_id", X.word_shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    b = s.select(
        (F.col("doc_id") - 1_000_000).alias("a_id"),
        F.col("doc_id").alias("dst"),
        F.col("sh").alias("sh_b"),
    )
    edges = (
        s.join(b, F.col("doc_id") == F.col("a_id"))
        .filter(
            2 * F.size(F.array_intersect("sh", "sh_b"))
            >= F.size(F.array_union("sh", "sh_b"))
        )
        .select(F.col("doc_id").alias("src"), "dst")
    )
    # The edge join pairs each doc with its single planted twin (unique
    # equi-join keys) — provably distinct edges, no defensive shuffle.
    comp = connected_components(
        s.select("doc_id"), edges, id_col="doc_id",
        assume_distinct_edges=True,
    )
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


@register(
    "q_ngram_jaccard",
    """WITH t AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
       ), s AS (
         -- concat_ws skips NULL words like Spark's concat_ws, so sub-3-token
         -- docs shingle identically on both engines
         SELECT doc_id,
                list_distinct([concat_ws(' ', w[i+1], w[i+2], w[i+3])
                               for i in range(greatest(len(w) - 2, 1))]) AS sh
         FROM t
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              floor(len(list_intersect(a.sh, b.sh)) * 1000000.0
                    / len(list_distinct(list_concat(a.sh, b.sh)))) / 1000000.0
                  AS jaccard
       FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""",
    "Exact 3-word-shingle Jaccard between consecutive doc pairs (the "
    "verification kernel of MinHash dedup, in isolation).",
)
def q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    sh = d.select(
        "doc_id", X.word_shingles(F.col("text"), 3).alias("sh")
    )
    a = sh.alias("a")
    b = sh.select(
        (F.col("doc_id") - 1).alias("join_id"), F.col("sh").alias("sh_b")
    ).alias("b")
    return (
        a.join(b, F.col("a.doc_id") == F.col("b.join_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            (F.col("a.doc_id") + 1).alias("id_b"),
            floor_round(
                F.size(F.array_intersect("a.sh", "sh_b"))
                / F.size(F.array_union("a.sh", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )


# =========================================================================
# Similarity search (q_cosine_topk, q_embed_neardup, q_ann_ivf)
# =========================================================================

_COSINE_SQL = (
    "list_reduce(list_transform(range(len(a.embedding)), "
    "i -> a.embedding[i+1]::DOUBLE * {q}[i+1]::DOUBLE), (x,y) -> x+y) "
    "/ (sqrt(list_reduce(list_transform(a.embedding, x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y)) "
    "* sqrt(list_reduce(list_transform({q}, x -> x::DOUBLE*x::DOUBLE), (x,y)->x+y)))"
)


def _query_vec(spark, sf_dir) -> list[float]:
    """Fixed, deterministic query vector: the embedding of vec_id=0 (exists
    at every SF). Collected driver-side (one row) and folded into the plan
    as a literal — at scale this is 'the query', not data movement.

    Recomputed on EVERY call: no module-level memo of data-derived values
    — each bench/oracle invocation computes from the parquet inputs; the
    fetch is one bounded single-row job, ~0.1 s."""
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


@register(
    "q_cosine_topk",
    f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT a.vec_id,
               floor(({_COSINE_SQL.format(q="q.qv")}) * 1000000) / 1000000.0
                   AS cosine_sim
        FROM embeddings a, q
        ORDER BY cosine_sim DESC, a.vec_id LIMIT 100""",
    "Brute-force cosine top-k vs a fixed query vector — JVM array lambdas "
    "(zip_with/aggregate), TakeOrderedAndProject; the exact-ANN baseline.",
)
def q_cosine_topk(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    return SIM.brute_force_topk(_t(spark, sf_dir, "embeddings"), qv, k=100)


def _fitted_centroids(emb) -> list[list[float]]:
    """Seeded sampled k-means fit (k=8 over the first 512 vectors, seed
    7) — DETERMINISTIC pure function of ``emb`` (ordered sample, seeded
    init, driver Lloyd), so every caller gets the identical model. Refit
    on EVERY call: no module-level memo of data-derived results — each
    bench/oracle invocation computes from the parquet inputs; the fit is
    one bounded sample collect + driver numpy, ~0.2 s."""
    return SIM.fit_centroids_kmeans(emb, k=8, sample_n=512, seed=7)


@register(
    "q_embed_neardup",
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               floor(({_COSINE_SQL.format(q="b.embedding")}) * 1000000) / 1000000.0
                   AS cosine_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE floor(({_COSINE_SQL.format(q="b.embedding")}) * 1000000) / 1000000.0
              >= 0.4""",
    "Embedding-cosine near-dup ≥ 0.4 via EXACT angular cluster pruning: "
    "IVF-assign → per-cluster angular radius → prune cluster-pair blocks "
    "whose spherical-triangle bound can't reach the threshold → salted "
    "equi-join within admissible blocks → exact cosine verify. Provably "
    "identical output to the all-pairs join (the oracle), but no nested "
    "loop: on clustered corpora most K² blocks never join.",
)
def q_embed_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    # Centroids from the seeded sampled k-means fit (same as q_ann_ivf).
    # Output is provably centroid-INDEPENDENT (the pruning bound is sound
    # for any centroids; tests pin equality with brute force). K stays
    # FIXED at 8: a scale probe measured the adaptive
    # K ~ sqrt(N) alternative and it LOST on the near-uniform fixture
    # (more centroids shrink inter-centroid angles faster than uniform
    # radii shrink -> LESS pruning, sf0.1 4.8 s -> 18.6 s) while the
    # heavy-dup replicated corpus stayed pair-output-bound either way —
    # the scaling answer there is exact-dedup-first pipeline ordering
    # (q_curation_e2e), not K tuning. Full analysis: BASELINE.md
    # dedup-family probe.
    cents = _fitted_centroids(emb)
    return SIM.cluster_pruned_pairs_above(emb, cents, 0.4)


@register(
    "q_semdedup",
    f"""WITH RECURSIVE edges AS (
         SELECT a.vec_id AS src, b.vec_id AS dst
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE floor(({_COSINE_SQL.format(q="b.embedding")}) * 1000000)
               / 1000000.0 >= 0.4
       ), sym AS (
         SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
       ), walk(id, lbl) AS (
         SELECT vec_id, vec_id FROM embeddings
         UNION
         SELECT sym.dst, walk.lbl FROM walk JOIN sym ON sym.src = walk.id
       )
       SELECT id AS vec_id, min(lbl) AS group_rep,
              (id = min(lbl)) AS keep
       FROM walk GROUP BY id""",
    "SemDeDup (Abbas et al. 2023): semantic dedup over embeddings — group "
    "vectors whose cosine similarity exceeds the threshold, keep ONE "
    "representative per group (the smallest vec_id — deterministic), drop "
    "the rest. Composes three already-proven exact operators: the "
    "angular-cluster-pruned cosine pair join (provably identical to "
    "all-pairs, q_embed_neardup), large-star/small-star connected "
    "components over the pair graph (q_dup_clusters), and the keep-min "
    "rule. The paper prunes pairs within k-means cells only (recall<1 "
    "across cell borders); the spherical-triangle block pruning here is "
    "globally exact, so the oracle is the O(N^2) pair join + recursive-"
    "CTE reachability. Scale: no nested loop anywhere — pruned equi-join "
    "blocks + O(log d) CC rounds.",
)
def q_semdedup(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    # The pruned pair join runs fresh every invocation (no cross-
    # invocation staging); connected_components eagerly checkpoints the
    # edge set, so the candidate machinery executes exactly once per
    # invocation even though the CC loop re-reads edges.
    cents = _fitted_centroids(emb)
    pairs = SIM.cluster_pruned_pairs_above(emb, cents, 0.4).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # One admissible block and one salt match per (id_a, id_b) — the
    # pruned pair join emits each pair exactly once, so CC skips its
    # defensive edge shuffle.
    cc = connected_components(
        emb.select(F.col("vec_id").alias("id")), pairs,
        assume_distinct_edges=True,
    )
    return cc.select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("group_rep"),
        (F.col("id") == F.col("component")).alias("keep"),
    )


@register(
    "q_ann_ivf",
    None,  # recall<1 by construction; centroid assignment is engine-internal
    "IVF ANN: 8 centroids from a seeded sampled spherical k-means fit "
    "(fit_centroids_kmeans — deterministic sample, driver-side Lloyd, "
    "broadcast into the plan), probe the 3 nearest clusters, exact top-10 "
    "within them — partition-pruned 3/8 scan. Measured mean recall@10 vs "
    "brute force is ~0.6-0.7 on the fixtures (near-uniform embeddings — "
    "the worst case for IVF); floor pinned in tests/test_extensions.py "
    "AND value-attested by the driver-checked sibling q_ann_recall "
    "(full-probe exactness, probe monotonicity, recall floor — "
    "queries_ml.py).",
)
def q_ann_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    cents = _fitted_centroids(emb)
    qv = _query_vec(spark, sf_dir)
    return SIM.ivf_topk(emb, cents, qv, n_probe=3)


# =========================================================================
# Text analysis (q_text_stats, q_token_count, q_lang_id, q_quality_score)
# =========================================================================


@register(
    "q_repetition_score",
    """SELECT doc_id,
              CAST(len(sh_all) AS BIGINT) AS n_shingles,
              CAST(len(list_distinct(sh_all)) AS BIGINT) AS n_distinct,
              CAST(floor((len(sh_all) - len(list_distinct(sh_all))) * 1000000.0
                         / len(sh_all)) AS BIGINT) AS rep_ppm
       FROM (SELECT doc_id,
                    -- concat_ws skips NULL words like Spark's concat_ws
                    [concat_ws(' ', w[i+1], w[i+2], w[i+3])
                     for i in range(greatest(len(w) - 2, 1))] AS sh_all
             FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                   FROM documents))""",
    "Within-document repetition (the Gopher-style duplicate-n-gram quality "
    "rule): fraction of repeated 3-word shingles per doc, reported as exact "
    "integer counts plus a floored parts-per-million ratio — no float "
    "comparison anywhere. Pure JVM (transform + array_distinct), narrow "
    "map: the signal every corpus-cleaning pass computes before filtering.",
)
def q_repetition_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    w = X.tokens(F.col("text"))
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - 3, F.lit(0)))
    sh_all = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(3)]
        ),
    )
    n_all = F.size(sh_all).cast("long")
    n_distinct = F.size(F.array_distinct(sh_all)).cast("long")
    return d.select(
        "doc_id",
        n_all.alias("n_shingles"),
        n_distinct.alias("n_distinct"),
        F.floor((n_all - n_distinct) * 1000000.0 / n_all).cast("long").alias(
            "rep_ppm"
        ),
    )


@register(
    "q_text_chunk",
    """SELECT doc_id, i AS chunk_idx,
              substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk
       FROM documents,
            UNNEST(generate_series(0, greatest(1, (length(text) + 99) // 150) - 1))
                AS t(i)""",
    "Training-context chunking: each document explodes into fixed 200-char "
    "windows with 50-char overlap (stride 150) — the step that turns a "
    "corpus into model-sized contexts. Pure JVM (sequence + substring + "
    "explode, character semantics on both engines): the fan-out happens "
    "map-side with no shuffle and no Python, so it streams through a scan "
    "at any corpus size.",
)
def q_text_chunk(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    n_chunks = F.greatest(F.lit(1), F.expr("(length(text) + 99) div 150"))
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr("substring(text, chunk_idx * 150 + 1, 200)").alias("chunk"),
        )
    )


@register(
    "q_text_stats",
    """WITH t AS (SELECT lang, len(string_split_regex(trim(text), '\\s+')) AS n_tok,
                         length(text) AS n_chars
                  FROM documents)
       SELECT lang, count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              floor(CAST(sum(n_chars) AS DOUBLE) * 10000 / sum(n_tok)) / 10000.0
                  AS chars_per_token
       FROM t GROUP BY lang""",
    "Corpus token/length stats per language bucket.",
)
def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    t = d.select("lang", X.token_count(F.col("text")).alias("n_tok"), F.length("text").alias("n_chars"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        floor_round(F.sum("n_chars").cast("double") / F.sum("n_tok"), 4).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_token_count",
    """SELECT doc_id,
              len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
              CAST(list_reduce(list_transform(string_split_regex(trim(text), '\\s+'),
                                              w -> greatest(CAST(ceil(length(w)/4.0) AS BIGINT), 1)),
                               (a,b) -> a+b) AS BIGINT) AS bpe_ish_tokens
       FROM documents""",
    "Per-document token counting: whitespace + BPE-ish (ceil(len/4) per "
    "word, the ~4-chars-per-token heuristic).",
)
def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    return d.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("ws_tokens"),
        X.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


def _langid_sql() -> str:
    """DuckDB twin of functions.text.lang_id (same markers, same tie order)."""
    hits = {
        lang: (
            "len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            f"t -> list_contains({list(markers)!r}, t)))"
        ).replace("'", "'")
        for lang, markers in X.LANG_MARKERS.items()
    }
    # replicate the chained argmax: first lang in dict order wins ties
    langs = list(X.LANG_MARKERS)
    best, best_score = f"'{langs[0]}'", hits[langs[0]]
    for lang in langs[1:]:
        cond = f"({hits[lang]}) > ({best_score})"
        best = f"CASE WHEN {cond} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {cond} THEN ({hits[lang]}) ELSE ({best_score}) END"
    return (
        f"SELECT doc_id, lang, CASE WHEN ({best_score}) > 0 THEN ({best}) "
        f"ELSE 'und' END AS lang_guess FROM documents"
    )


@register(
    "q_lang_id",
    _langid_sql(),
    "Marker-stopword language-ID heuristic (argmax of per-language hit "
    "counts, fixed tie order). The fixture corpus is synthetic word-salad, "
    "so guesses reflect marker presence, not real language — the operator "
    "contract is determinism.",
)
def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    return d.select("doc_id", "lang", X.lang_id(F.col("text")).alias("lang_guess"))


@register(
    "q_quality_score",
    """WITH t AS (
         SELECT doc_id, text,
                string_split_regex(trim(text), '\\s+') AS toks,
                length(text) AS n_chars
         FROM documents
       ), f AS (
         SELECT doc_id, n_chars, len(toks) AS n_tokens,
                len(list_filter(list_transform(toks, t -> lower(t)),
                    t -> list_contains(['the','a','of','and','to','is','in','that','it','for'], t)))
                    AS n_stopwords,
                n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_nonalnum,
                floor((n_chars - len(toks) + 1) * 10000.0 / len(toks)) / 10000.0 AS mean_word_len
         FROM t
       )
       SELECT doc_id, n_chars, n_tokens, n_stopwords,
              floor(greatest(least(
                  0.5 + least(floor(n_stopwords * 10000.0 / n_tokens) / 10000.0 * 2, 0.3)
                      - least(floor(n_nonalnum * 10000.0 / n_chars) / 10000.0 * 2, 0.4)
                      - CASE WHEN mean_word_len < 3 OR mean_word_len > 12
                             THEN 0.2 ELSE 0.0 END,
                  1.0), 0.0) * 10000) / 10000.0 AS quality
       FROM f""",
    "Gopher/C4-style cheap quality signals + composite [0,1] score "
    "(stopword density up-weights, symbol soup and degenerate word lengths "
    "down-weight). All floor-truncated for engine portability.",
)
def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    f = X.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["n_stopwords"].alias("n_stopwords"),
        X.quality_score(F.col("text")).alias("quality"),
    )


# =========================================================================
# Multimodal (q_multimodal_meta, q_frame_sample)
# =========================================================================


@register(
    "q_multimodal_meta",
    """SELECT doc_id, octet_length(encode(text)) AS byte_len,
              CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
              CAST((octet_length(encode(text)) // 64) % 64 + 16 AS INTEGER) AS height
       FROM documents""",
    "Multimodal column plumbing: opaque binary payload + Arrow-batched "
    "mapInPandas metadata extraction (decode step is a deterministic stub — "
    "no image libs in this container; fake_image_meta documents the PIL "
    "drop-in). Oracle checks the byte-length arithmetic end-to-end through "
    "the Pandas path — octet_length(encode(...)) = UTF-8 bytes, matching "
    "the payload length on any corpus, not just ASCII.",
)
def q_multimodal_meta(spark, sf_dir):
    d = MM.with_binary_payload(_t(spark, sf_dir, "documents", parallel=True))
    meta = MM.extract_image_metadata(d)
    # format is derived from payload bytes — drop for the SQL oracle, the
    # width/height/byte_len path still exercises the full mapInPandas batch
    return meta.select("doc_id", "byte_len", "width", "height")


@register(
    "q_audio_meta",
    """SELECT doc_id,
              octet_length(encode(text)) AS byte_len,
              CAST(CASE octet_length(encode(text)) % 3
                     WHEN 0 THEN 8000 WHEN 1 THEN 16000
                     ELSE 44100 END AS INTEGER) AS sample_rate,
              octet_length(encode(text)) * 1000 // 32 AS duration_ms
       FROM documents""",
    "Audio-metadata twin of q_multimodal_meta: Arrow-batched mapInPandas "
    "header parse over opaque binary payloads (fake_audio_meta is the "
    "soundfile drop-in point; it derives sample_rate/duration "
    "deterministically from payload bytes). Oracle reproduces that byte "
    "arithmetic, proving the Pandas batch path end-to-end.",
)
def q_audio_meta(spark, sf_dir):
    d = MM.with_binary_payload(_t(spark, sf_dir, "documents", parallel=True))
    return MM.extract_audio_metadata(d)


@register(
    "q_frame_sample",
    """SELECT doc_id,
              CAST(k AS INTEGER) AS frame_idx,
              CAST(least(step, greatest(byte_len - k * step, 0)) AS INTEGER)
                  AS frame_len
       FROM (SELECT doc_id,
                    octet_length(encode(text)) AS byte_len,
                    greatest(octet_length(encode(text)) // 3, 1) AS step
             FROM documents)
       CROSS JOIN range(3) t(k)""",
    "Frame-sampling fan-out via mapInPandas: each payload yields 3 chunk "
    "rows (stand-in for video frame extraction) — 1→N without explode. "
    "The chunking arithmetic (step = max(len//3, 1); frame i = bytes "
    "[i*step, i*step+step)) is deterministic byte math on the UTF-8 "
    "payload, so the oracle reproduces every (doc_id, frame_idx, "
    "frame_len) row exactly — a FULL value check of the 1→N Arrow batch "
    "path, upgraded from the old rows-only check.",
)
def q_frame_sample(spark, sf_dir):
    d = MM.with_binary_payload(_t(spark, sf_dir, "documents", parallel=True))
    return MM.sample_frames(d).select(
        "doc_id", "frame_idx", F.length("frame_bytes").alias("frame_len")
    )


# =========================================================================
# OLAP surface extensions: sliding/session windows, set ops, cube, pivot
# =========================================================================


@register(
    "q_window_sliding",
    """WITH grid AS (
         -- DuckDB to_timestamp() yields TIMESTAMPTZ; CAST back to plain
         -- TIMESTAMP so the Arrow schema matches Spark's tz-naive window.
         SELECT e.*, CAST(to_timestamp(floor(epoch(ts) / 900) * 900)
                          - INTERVAL (k * 15) MINUTE AS TIMESTAMP)
                    AS window_start
         FROM events e CROSS JOIN range(4) t(k)
         WHERE ts < CAST(to_timestamp(floor(epoch(ts) / 900) * 900)
                         - INTERVAL (k * 15) MINUTE + INTERVAL 1 HOUR AS TIMESTAMP)
       )
       SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
              count(event_id) AS n_events,
              round(sum(CAST(round(value * 100) AS BIGINT)) / count(value)) / 100.0
                  AS avg_value
       FROM grid GROUP BY window_start""",
    "Sliding window (1 h window, 15 min slide): each event lands in 4 "
    "windows. Spark F.window(slideDuration); DuckDB twin via grid join.",
)
def q_window_sliding(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.agg import money_avg_2dp

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("event_id").alias("n_events"),
            money_avg_2dp("value").alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


@register(
    "q_window_session",
    """WITH marked AS (
         SELECT user_id, ts, event_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE OR
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS is_new
         FROM events
       ), islands AS (
         SELECT user_id, ts, event_id,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
         FROM marked
       )
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end,
              count(event_id) AS n_events
       FROM islands GROUP BY user_id, session_no""",
    "Session windows (30 min gap) per user — session_window() in Spark; "
    "gaps-and-islands twin in SQL. window_end = last event + gap.",
)
def q_window_session(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("event_id").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_set_ops",
    """SELECT user_id, 'both' AS src FROM
         (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
       UNION ALL
       SELECT user_id, 'purchase_only' AS src FROM
         (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'error')""",
    "Set operators: INTERSECT / EXCEPT / UNION ALL over key sets.",
)
def q_set_ops(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purchasers.intersect(erroring).withColumn("src", F.lit("both"))
    only = purchasers.exceptAll(erroring.intersect(purchasers)).withColumn(
        "src", F.lit("purchase_only")
    )
    return both.unionAll(only)


@register(
    "q_agg_cube",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                  AS sum_qty,
              count(*) AS n
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "CUBE grouping sets (all roll-up combinations in one pass — Spark plans "
    "a single Expand + hash agg).",
)
def q_agg_cube(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.sum(cents(F.col("l_quantity"))).cast("double") / 100.0).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_pivot",
    """SELECT l_returnflag,
              CAST(sum(CASE WHEN l_linestatus = 'O'
                   THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_O,
              CAST(sum(CASE WHEN l_linestatus = 'F'
                   THEN CAST(round(l_quantity * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS qty_F
       FROM lineitem GROUP BY l_returnflag""",
    "Pivot: linestatus → columns (fixed value list ⇒ single-pass hash agg, "
    "no second shuffle).",
)
def q_pivot(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(cents(F.col("l_quantity"))))
        .select(
            "l_returnflag",
            (F.col("O").cast("double") / 100.0).alias("qty_O"),
            (F.col("F").cast("double") / 100.0).alias("qty_F"),
        )
    )


@register(
    "q_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
              CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
              CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0
                  AS sum_disc_price,
              round(sum(CAST(round(l_quantity*100) AS BIGINT)) / count(*)) / 100.0 AS avg_qty,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
    "TPC-H Q1 shape: scan-heavy multi-aggregate with pushed date filter — "
    "the classic columnar-engine benchmark kernel (exact-cents sums).",
)
def q_tpch_q1(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.functions.precision import cents

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_b = cents(F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
        (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
        (F.sum(price_c * (100 - disc_b)).cast("double") / 10000.0).alias(
            "sum_disc_price"
        ),
        (F.round(F.sum(qty_c) / F.count(F.lit(1))) / 100.0).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# =========================================================================
# Streaming batch-twins (q_stream_dedup, q_merge_upsert run as streams in
# tests/test_streaming.py; these are their oracle-checkable batch versions)
# =========================================================================


@register(
    "q_merge_upsert",
    """SELECT date_trunc('hour', ts) AS window_start,
              date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
              user_id AS driver_id,
              count(event_id) AS total_rides_hourly,
              round(sum(CAST(round(value * 100) AS BIGINT)) / count(value)) / 100.0
                  AS avg_fare_hourly,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                  AS total_suspicious_rides_hourly
       FROM events GROUP BY 1, 2, 3""",
    "MERGE upsert (03_gold:91-113): two sequential complete-mode micro-"
    "batches (first half, then all) merged latest-wins into a parquet "
    "target; the reference's own correctness criterion — Gold ≡ the full "
    "batch aggregate — is the oracle (SURVEY §2.7).",
)
def q_merge_upsert(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.operators.agg import hourly_driver_agg
    from real_time_rides_data_pipeline_spark.sinks import merge_upsert_parquet

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_suspicious", F.col("event_type") == "error"
    )
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def agg(df):
        return hourly_driver_agg(
            df, ts_col="ts", key_col="user_id", id_col="event_id", fare_col="value"
        ).withColumnRenamed("user_id", "driver_id")

    target = _scratch_dir(prefix="gold_merge_") + "/gold"
    # micro-batch 1: complete aggregate over the first half
    merge_upsert_parquet(
        spark, agg(ev.filter(F.col("ts") < cutoff)), target,
        ("window_start", "window_end", "driver_id"),
    )
    # micro-batch 2: complete aggregate over everything (complete mode
    # re-emits all windows; MERGE overwrites matched, inserts new)
    merge_upsert_parquet(
        spark, agg(ev), target, ("window_start", "window_end", "driver_id")
    )
    return spark.read.parquet(target)


@register(
    "q_stateful_running",
    """SELECT g.user_id, g.n_events, g.total_spend, g.max_value, l.last_event_id
       FROM (SELECT user_id, count(*) AS n_events,
                    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                        AS total_spend,
                    max(value) AS max_value
             FROM events GROUP BY user_id) g
       JOIN (SELECT user_id, event_id AS last_event_id FROM events
             QUALIFY row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) = 1) l
       USING (user_id)""",
    "Custom stateful streaming operator (applyInPandasWithState): per-user "
    "running count/spend/max/latest-event state folded across 2 real micro-"
    "batches (file replay), update-mode emissions MERGE-upserted into a "
    "latest-state table. Oracle = the equivalent batch aggregate — the "
    "stream≡batch criterion of SURVEY §5.2.2.",
)
def q_stateful_running(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_upsert_parquet,
    )
    from real_time_rides_data_pipeline_spark.streaming.stateful import (
        running_user_stats,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    # Stateful shuffle width is frozen into the checkpoint at first batch;
    # size it to the state, not the session default: each state partition
    # costs a state-store (RocksDB) instance load per micro-batch, but too
    # few partitions serialize the Arrow/pandas fold. Sweep at sf0.1 on 32
    # cores: 2→16.1s, 4→10.4s, 8→7.9s, 16→7.2s, 32→8.4s — 16 is the knee.
    stream, run_dir = replay_stream(
        spark, "stateful", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=16
    )
    out, ckpt = f"{run_dir}/out", f"{run_dir}/ckpt"
    run_to_completion(
        foreach_batch_merge(
            running_user_stats(stream),
            ckpt,
            lambda bdf, _bid: merge_upsert_parquet(
                bdf.sparkSession, bdf, out, ("user_id",)
            ),
        )
    )
    return spark.read.parquet(out)


@register(
    "q_stream_dedup",
    """SELECT event_id, ts, user_id, event_type, value FROM (
         SELECT *, row_number() OVER (PARTITION BY event_id, ts
                                      ORDER BY event_id) AS rn
         FROM (SELECT event_id, ts, user_id, event_type, value FROM events
               UNION ALL
               SELECT event_id, ts, user_id, event_type, value FROM events
               WHERE event_id % 50 = 0)
       ) WHERE rn = 1""",
    "Batch twin of watermarked streaming dedup (02_silver:84-92): events ∪ "
    "2%-style re-emissions, dropDuplicates on (event_id, ts). The streaming "
    "version (RocksDB state, 10-min watermark) runs in tests/test_streaming.",
)
def q_stream_dedup(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators import stream_dedup

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dupes = ev.filter(F.col("event_id") % 50 == 0)
    return stream_dedup(
        ev.unionAll(dupes), keys=("event_id", "ts"), event_time_col="ts"
    )


@register(
    "q_stream_dedup_ttl",
    """SELECT event_id, ts, user_id, value FROM events WHERE event_id % 20 = 0""",
    "TTL-bounded streaming dedup (dropDuplicatesWithinWatermark, Spark "
    "3.5+) driven as a REAL 2-micro-batch replay with AT-LEAST-ONCE "
    "redelivery: batch 2 re-delivers every 5th batch-1 row verbatim "
    "alongside the genuinely new events — exactly the duplicate pattern "
    "a replayed Kafka offset range produces. The 45-day watermark "
    "exceeds the fixture's 30-day span, so every redelivered key is "
    "still in state and every duplicate must be dropped: output = the "
    "distinct event sample, value-checked. The operator difference from "
    "q_stream_dedup/q_watermark (plain dropDuplicates under a "
    "watermark): state here is EVICTED once the watermark passes a "
    "key's event time — the contract that makes infinite-stream dedup "
    "state bounded by (rate × TTL) instead of |all keys ever| — and the "
    "eviction-then-re-emission behavior past the TTL is pinned by "
    "tests/test_streaming.py's expiry case. Width 2 per a state-width "
    "A/B (the q_watermark twin's sizing).",
)
def q_stream_dedup_ttl(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.operators import (
        stream_dedup_within_watermark,
    )
    from real_time_rides_data_pipeline_spark.sinks import stream_append_parquet

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "ts", "user_id", "value")
    )
    # Two-batch replay: batch 1 seeds the dedup state, batch 2's
    # redeliveries hit it live. No spacer batch is needed here (unlike
    # _wm_replay): dedup STATE commits at the end of the batch that
    # created it — only the FILTER watermark lags a batch, and the 45-day
    # delay keeps it below all data.
    def frames():
        cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
        early = ev.filter(F.col("ts") < cutoff)
        redelivered = early.filter(F.col("event_id") % 100 == 0)
        late = ev.filter(F.col("ts") >= cutoff).unionAll(redelivered)
        return [early.coalesce(1), late.coalesce(1)]

    stream, run_dir = replay_stream(
        spark, "ttl_pre", sf_dir, frames, ev.schema, width=2
    )
    deduped = stream_dedup_within_watermark(
        stream, keys=("event_id", "ts"), event_time_col="ts",
        watermark="45 days",
    )
    out = f"{run_dir}/out"
    run_to_completion(
        stream_append_parquet(deduped, out, f"{run_dir}/ckpt", trigger_seconds=None)
    )
    return spark.read.parquet(out)


def _wm_replay(spark, sf_dir):
    """The replay stream of the watermark-drop twins (q_watermark,
    q_stream_late_metrics) and its run dir: the 5% events subset split
    into an early batch, a ZERO-ROW SPACER, and a late batch carrying
    stragglers re-keyed 72 h back — far below batch 1's watermark, so
    ONLY the watermark can drop them, never the dedup.

    The spacer is LOAD-BEARING: the watermark a batch FILTERS with
    lags one batch behind the data that produced it (batch N's filter
    watermark is committed at the end of batch N-1), so the spacer
    batch commits batch 1's advance before the late file is read —
    without it the stragglers land in the very batch after the early
    data and sail past the still-1970 filter watermark (verified live:
    734 rows instead of 500).

    Width 2 per state-width A/Bs (4 -> 2, min-of-2 at sf0.1: q_watermark
    2.71 -> 2.29 s, q_stream_late_metrics 3.05 -> 2.53 s): over a
    5%-sampled stream, dedup state is a few thousand keys, and per-batch
    store commits scale with width."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "ts", "user_id", "value")
    )

    def frames():
        cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
        early = ev.filter(F.col("ts") < cutoff)
        stragglers = early.select(
            (-F.col("event_id") - 1).alias("event_id"),
            (F.col("ts") - F.expr("INTERVAL 72 HOURS")).alias("ts"),
            "user_id",
            "value",
        )
        late = ev.filter(F.col("ts") >= cutoff).unionAll(stragglers)
        return [early.coalesce(1), ev.limit(0), late.coalesce(1)]

    return replay_stream(spark, "wm_pre", sf_dir, frames, ev.schema, width=2)


@register(
    "q_watermark",
    """SELECT event_id, ts, user_id, value FROM events WHERE event_id % 20 = 0""",
    "Event-time watermark (02_silver:84-92) driven as a REAL multi-micro-"
    "batch stream: batch 1 (pre-Jan-15 events) advances the watermark to "
    "max(ts)-10min; the late batch carries the remaining events plus "
    "stragglers stamped 72 h in the past — every straggler lands below "
    "the watermark and must be dropped, so the output is exactly the "
    "genuine events. Batches are pre-placed with a zero-row spacer "
    "(_wm_replay — the watermark-commit-lag mechanic). State is "
    "bounded by the watermark (SURVEY §2.6 / §7.4.6).",
)
def q_watermark(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.operators import stream_dedup
    from real_time_rides_data_pipeline_spark.sinks import stream_append_parquet

    stream, run_dir = _wm_replay(spark, sf_dir)
    deduped = stream_dedup(stream, keys=("event_id", "ts"), event_time_col="ts")
    out = f"{run_dir}/out"
    run_to_completion(
        stream_append_parquet(deduped, out, f"{run_dir}/ckpt", trigger_seconds=None)
    )
    return spark.read.parquet(out)


@register(
    "q_output_complete",
    """SELECT date_trunc('hour', ts) AS window_start,
              date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
              user_id AS driver_id,
              count(event_id) AS total_rides_hourly,
              round(sum(CAST(round(value * 100) AS BIGINT)) / count(value)) / 100.0
                  AS avg_fare_hourly,
              CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                  AS total_suspicious_rides_hourly
       FROM events GROUP BY 1, 2, 3""",
    "complete output mode on an aggregate stream (03_gold:124): the hourly "
    "aggregate folded across 2 real micro-batches, each emission the FULL "
    "recomputed state; the final emission must equal the one-shot batch "
    "aggregate — the reference's literal Gold semantics (SURVEY §4.3.1; "
    "our preferred bounded-state path is q_merge_upsert).",
)
def q_output_complete(spark, sf_dir):
    import uuid

    from real_time_rides_data_pipeline_spark.operators.agg import hourly_driver_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream, _ = replay_stream(
        spark, "complete", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=4
    )
    agg = hourly_driver_agg(
        stream.withColumn("is_suspicious", F.col("event_type") == "error"),
        ts_col="ts",
        key_col="user_id",
        id_col="event_id",
        fare_col="value",
    ).withColumnRenamed("user_id", "driver_id")
    name = f"complete_out_{uuid.uuid4().hex[:8]}"
    run_to_completion(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    # Memory sink registers its view in the session that STARTED the query.
    return stream.sparkSession.table(name)


from real_time_rides_data_pipeline_spark.streaming.stateful import HAVE_TWS


@register(
    "q_stream_dim_join",
    """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
       FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
    "Stream-static enrichment join (the medallion Silver-enrichment "
    "pattern): a REAL 2-micro-batch file-replay stream broadcast-joins the "
    "static customer dim per micro-batch — zero shuffle of the stream side, "
    "no state (static side is re-broadcast, not buffered). Same "
    "join_fact_dim operator as the batch q_join_inner/q_join_left keys: "
    "operators are batch/stream agnostic (SURVEY §4.4). Oracle = the plain "
    "batch LEFT JOIN.",
)
def q_stream_dim_join(spark, sf_dir):
    import uuid

    from real_time_rides_data_pipeline_spark.operators.joins import join_fact_dim

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    stream, _ = replay_stream(
        spark, "sdjoin", sf_dir, lambda: [ev.repartition(2)], ev.schema
    )
    joined = join_fact_dim(
        stream, cust, on=stream.user_id == cust.c_custkey, how="left"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    name = f"sdjoin_out_{uuid.uuid4().hex[:8]}"
    run_to_completion(
        joined.writeStream.format("memory")
        .queryName(name)
    )
    return spark.table(name)


@register(
    "q_stream_stream_join",
    """SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id
       FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a
       JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') b
         ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts""",
    "Stream-stream interval join (view→click attribution within 5 minutes, "
    "per user): both sides are watermarked streams of the same replayed "
    "source, joined with an event-time range condition — Spark plans a "
    "StreamingSymmetricHashJoin whose per-side state is evicted by "
    "watermark + interval bound. The key replays one micro-batch (results "
    "≡ the batch join, the oracle); cross-micro-batch state retention is "
    "pinned in tests/test_streaming.py with a controlled 2-batch replay.",
)
def q_stream_stream_join(spark, sf_dir):
    import uuid

    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
    from real_time_rides_data_pipeline_spark.streaming.replay import stage_batches

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    inp = stage_batches("ssjoin", sf_dir, lambda: [ev.repartition(2)])
    # Symmetric-hash join state is per-partition PER SIDE — width pinned on
    # a per-writer session clone, not the shared session conf. Width 4 per
    # a state-width A/B (8 -> 4 = 2.66 -> 2.38 s min-of-2 at sf0.1): a
    # stream-stream join keeps TWO keyed state stores per partition, so
    # per-batch store open/commit scales with width x sides; size to the
    # buffered state (tens of thousands of rows here), not the session's
    # fact-table default.
    writer = scoped_writer_session(spark, shuffle_partitions=4)

    def side(tag: str, typ: str):
        # Watermark BEFORE the type filter: the join's global watermark is
        # the MIN across sides, and a side whose filter admits few/no events
        # in a batch would otherwise drag it behind (harmless for this
        # inner single-batch key; essential for outer joins and multi-batch
        # replays — pinned in tests/test_streaming.py).
        s = parquet_stream(writer, inp, ev.schema, max_files_per_trigger=2)
        return (
            s.withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == typ)
            .select(
                F.col("event_id").alias(f"{tag}_id"),
                F.col("user_id").alias(f"{tag}_user"),
                F.col("ts").alias(f"{tag}_ts"),
            )
        )

    clicks, views = side("click", "click"), side("view", "view")
    joined = clicks.join(
        views,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    ).select(
        F.col("click_id"),
        F.col("view_id"),
        F.col("click_user").alias("user_id"),
    )
    name = f"ssjoin_out_{uuid.uuid4().hex[:8]}"
    run_to_completion(
        joined.writeStream.format("memory")
        .queryName(name)
    )
    return writer.table(name)


@register(
    "q_stream_stream_join_outer",
    """SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id
       FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a
       LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') b
         ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts""",
    "Stream-stream LEFT OUTER interval join: unmatched clicks emit (click, "
    "NULL) only once the watermark proves no view can still arrive — the "
    "semantics that make outer joins hard in streams. Sides read DISTINCT "
    "directories (identical sources over one dir dedup into a single scan "
    "and stall the min-watermark, see tests/test_streaming.py), and two "
    "far-future sentinel batches (user_id -1/-2) advance the watermark "
    "past every real click so ALL unmatched rows flush: batch N's "
    "eviction uses the watermark computed at the END of batch N-1, hence "
    "two sentinel micro-batches. Each side's dir is staged once per "
    "sf_dir by stage_batches as the frames (data, +1h sentinel, +2h "
    "sentinel) in mtime order, so one drain replays the three-batch "
    "schedule. The ORDER is LOAD-BEARING: a sentinel surfacing beside "
    "(or before) the data batch would advance the watermark past the "
    "real rows and silently drop them as late — the oracle "
    "hash-checks this on every run. The sentinel rows are filtered "
    "from the SINK table, not inside the stream — an in-stream filter "
    "on user_id would be pushed down through join and watermark into "
    "the scan, dropping the sentinels before the watermark node ever "
    "sees them (watermark frozen, outer rows never emit). Oracle = "
    "the plain batch LEFT JOIN.",
)
def q_stream_stream_join_outer(spark, sf_dir):
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    base = ev.select("event_id", "user_id", "ts")

    def frames(typ: str):
        # Both sides' sentinels sit past the max event time of ALL events.
        side = ev.filter(F.col("event_type") == typ).select(*base.columns)
        return [side.coalesce(1)] + [
            sentinel_frame(base, "ts", hours, {"event_id": -1, "user_id": uid})
            for hours, uid in ((1, -1), (2, -2))
        ]

    # Width 2 per a state-width A/B (8 -> 2 = 8.2 -> 5.1 s, 1 -> 7.1,
    # 4 -> 5.9 min-of-2 at sf0.1):
    # ~15k buffered rows per side fit comfortably in 2 partitions; at
    # real scale this parameter sizes to buffered-state volume (the
    # scoped_writer_session contract), not to CPU count. The view side
    # joins in the click side's session.
    clicks, _ = replay_stream(
        spark, "ssjout_clicks", sf_dir, lambda: frames("click"), base.schema, width=2
    )
    views, _ = replay_stream(
        clicks.sparkSession, "ssjout_views", sf_dir, lambda: frames("view"), base.schema
    )

    def side(tag: str, s):
        return s.withWatermark("ts", "10 minutes").select(
            F.col("event_id").alias(f"{tag}_id"),
            F.col("user_id").alias(f"{tag}_user"),
            F.col("ts").alias(f"{tag}_ts"),
        )

    joined = (
        side("click", clicks)
        .join(
            side("view", views),
            (F.col("click_user") == F.col("view_user"))
            & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("view_ts") <= F.col("click_ts")),
            "left_outer",
        )
        .select(
            F.col("click_id"),
            F.col("view_id"),
            F.col("click_user").alias("user_id"),
        )
    )
    name = f"ssjout_out_{uuid.uuid4().hex[:8]}"
    run_to_completion(
        joined.writeStream.format("memory")
        .queryName(name)
    )
    # Sentinel rows (negative user ids) are dropped from the sink table —
    # a batch filter, safely pushable here.
    return clicks.sparkSession.table(name).filter(F.col("user_id") >= 0)


@register(
    "q_grouped_normalize",
    """SELECT event_id, user_id,
              CASE WHEN mx = mn THEN 0
                   ELSE (c - mn) * 10000 // (mx - mn) END AS norm_bp
       FROM (SELECT event_id, user_id,
                    CAST(round(value * 100) AS BIGINT) AS c,
                    min(CAST(round(value * 100) AS BIGINT))
                        OVER (PARTITION BY user_id) AS mn,
                    max(CAST(round(value * 100) AS BIGINT))
                        OVER (PARTITION BY user_id) AS mx
             FROM events)""",
    "Grouped-map applyInPandas (the third Pandas API next to mapInPandas "
    "and applyInPandasWithState): per-user min-max normalization of value "
    "to basis points via operators/normalize.grouped_minmax_normalize with "
    "engine='grouped_map' — cents are computed ONCE in Spark (shared "
    "precision helper), the Python side does only exact int64 floor "
    "division, so the result is bit-identical to the SQL window oracle. "
    "This key deliberately exercises the grouped-map surface; the "
    "operator's DEFAULT engine is the pure-JVM window twin, because "
    "grouped-map loads one whole group per Arrow batch (giant-key OOM "
    "hazard — see the operator docstring). Equality of the two "
    "engines is pinned in tests/test_extensions.py.",
)
def q_grouped_normalize(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.normalize import (
        grouped_minmax_normalize,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return grouped_minmax_normalize(ev, engine="grouped_map")


@register(
    "q_top2_per_key",
    """WITH r AS (
         SELECT user_id, value, event_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                                            event_id DESC) AS rn
         FROM events
       ), c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
       SELECT c.user_id, c.n_events,
              max(CASE WHEN rn = 1 THEN value END) AS top1_value,
              max(CASE WHEN rn = 1 THEN event_id END) AS top1_event_id,
              max(CASE WHEN rn = 2 THEN value END) AS top2_value
       FROM r JOIN c USING (user_id)
       GROUP BY c.user_id, c.n_events""",
    "Batch twin of q_tws_top_values (per-user top-2 values + event count via "
    "window ranking): keeps the top-k-state surface hash-checked everywhere, "
    "including containers where transformWithState itself cannot run (no "
    "protobuf). One window shuffle on user_id; rn<=2 filtered before the "
    "final agg so only 2 rows per key reach it.",
)
def q_top2_per_key(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ordinal = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        ordinal.desc(), F.col("event_id").desc()
    )
    ranked = (
        ev.select("user_id", "value", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        ranked.join(counts, "user_id")
        .groupBy("user_id", "n_events")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("top1_value"),
            F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias("top1_event_id"),
            F.max(F.when(F.col("rn") == 2, F.col("value"))).alias("top2_value"),
        )
    )


def _register_tws(fn):
    """transformWithStateInPandas needs Spark >= 4.0 AND protobuf (its state
    server protocol); register the key only where it can actually run —
    applyInPandasWithState (q_stateful_running) covers arbitrary state
    everywhere else."""
    if not HAVE_TWS:
        return fn
    return register(
        "q_tws_top_values",
        """WITH r AS (
         SELECT user_id, value, event_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                                            event_id DESC) AS rn
         FROM events
       ), c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
       SELECT c.user_id, c.n_events,
              max(CASE WHEN rn = 1 THEN value END) AS top1_value,
              max(CASE WHEN rn = 1 THEN event_id END) AS top1_event_id,
              max(CASE WHEN rn = 2 THEN value END) AS top2_value
       FROM r JOIN c USING (user_id)
       GROUP BY c.user_id, c.n_events""",
        "transformWithStateInPandas (Spark 4 arbitrary-state API): per-user "
        "top-2 values + count folded across 2 file-replay micro-batches, "
        "typed ValueState, update-mode MERGE into a latest-state table. "
        "Oracle = the equivalent batch window ranking (stream≡batch, "
        "SURVEY §5.2.2).",
    )(fn)


@_register_tws
def q_tws_top_values(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sinks import (
        foreach_batch_merge,
        merge_upsert_parquet,
    )
    from real_time_rides_data_pipeline_spark.streaming.stateful import (
        running_top_values,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    stream, run_dir = replay_stream(
        spark, "tws", sf_dir, lambda: [ev.repartition(2)], ev.schema, width=8
    )
    out, ckpt = f"{run_dir}/out", f"{run_dir}/ckpt"
    run_to_completion(
        foreach_batch_merge(
            running_top_values(stream),
            ckpt,
            lambda bdf, _bid: merge_upsert_parquet(
                bdf.sparkSession, bdf, out, ("user_id",)
            ),
        )
    )
    return spark.read.parquet(out)


# =========================================================================
# Corpus curation: relevance scoring, content addressing, PII,
# edit-distance near-dup, stratified downsampling (q_tfidf_topk,
# q_crypto_fingerprint, q_pii_redact, q_levenshtein_neardup,
# q_stratified_sample)
# =========================================================================


@register(
    "q_tfidf_topk",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         FROM documents
       ), tf_t AS (
         SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
       ), df_t AS (
         SELECT term, count(*) AS df FROM tf_t GROUP BY term
       ), s AS (
         SELECT t.doc_id, t.term, t.tf, d.df,
                t.tf * 1000000 // d.df AS score_ppm
         FROM tf_t t JOIN df_t d ON t.term = d.term
       )
       SELECT doc_id, term, tf, df, score_ppm, rk
       FROM (SELECT *, row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY score_ppm DESC, tf DESC, term ASC) AS rk
             FROM s)
       WHERE rk <= 3""",
    "TF-IDF-style term relevance, exact-integer variant: per-(doc, term) "
    "frequency joined to document frequency, scored tf*1e6 DIV df (for a "
    "fixed doc this is monotone in tf*idf for any monotone idf(df), so the "
    "per-doc top-3 ranking equals the TF-IDF ranking while staying "
    "bit-exact — no float log). Ties broken (tf DESC, term ASC) for a "
    "total order. Scale: two key shuffles (doc_id,term) then (term); the "
    "df side is |vocab| rows and joined SHUFFLE-side (a corpus vocabulary "
    "can exceed the broadcast budget); the top-k window repartitions by doc_id "
    "only after tf/df — three exchanges total, each on the natural key, "
    "all aggregates map-side partial first.",
)
def q_tfidf_topk(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    # tf is consumed twice (df aggregate + scored join) — checkpoint so
    # the scan+explode+agg runs once (the q_bm25_topk rationale).
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", "tf", "df",
        F.expr("tf * 1000000L DIV df").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_ppm", "rk")
    )


@register(
    "q_crypto_fingerprint",
    """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
              substr(md5(text), 1, 4) AS shard_prefix
       FROM documents""",
    "Content-addressable fingerprinting: md5 + sha-256 hex digests of the "
    "raw text (the identity used by exact-dedup manifests and "
    "content-addressed blob stores), plus the first 4 hex chars as a "
    "65536-way shard prefix — the standard way a large corpus is laid "
    "out for object-store fan-out. Pure narrow map, zero shuffle, "
    "whole-stage codegen; unlike xxhash64/hash these digests are "
    "engine-portable (bit-identical in DuckDB, Spark, Trino), so the "
    "fingerprint can serve as a cross-system join key.",
)
def q_crypto_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.substring(F.md5("text"), 1, 4).alias("shard_prefix"),
    )


@register(
    "q_pii_redact",
    """SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  'reach user' || CAST(doc_id AS VARCHAR) || '@' || source
                    || '.example.com or 555-123-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' re: ' || substr(text, 1, 40),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
       FROM documents""",
    "PII scrubbing for training corpora: email + phone patterns replaced "
    "with typed placeholder tokens via chained regexp_replace. The fixture "
    "text is synthetic words, so the key derives a contact line "
    "(user<id>@<source>.example.com / 555-123-XXXX) deterministically from "
    "each row and redacts THAT — the kernel is real, the PII is "
    "synthesized in-plan. Patterns stay in the Java-regex ∩ RE2 common "
    "subset (character classes + bounded repetition, no backrefs or "
    "lookaround) so the oracle ('g' flag = Spark's replace-all default) is "
    "bit-identical. Narrow map, no shuffle; regex cost is linear per row "
    "and runs inside whole-stage codegen — the standard scrub pass before "
    "any corpus leaves the bronze zone.",
)
def q_pii_redact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True)
    contact = F.concat(
        F.lit("reach user"), F.col("doc_id").cast("string"),
        F.lit("@"), F.col("source"), F.lit(".example.com or 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "), F.substring(F.col("text"), 1, 40),
    )
    no_email = F.regexp_replace(
        contact, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return d.select(
        "doc_id",
        F.regexp_replace(
            no_email, r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"
        ).alias("redacted"),
    )


@register(
    "q_levenshtein_neardup",
    """WITH c AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 7000000,
                substr(text, 1, greatest(len(text) - 8, 1))
         FROM documents WHERE doc_id % 7 = 0
       )
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              levenshtein(a.text, b.text) AS dist
       FROM c a JOIN c b
         ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
        AND a.doc_id < b.doc_id
       WHERE levenshtein(a.text, b.text) <= 24""",
    "Edit-distance near-dup (the OCR-noise / small-mutation family that "
    "shingle Jaccard under-detects): prefix BLOCKING — equi-join on the "
    "first 40 chars — bounds candidates, then exact Levenshtein <= 24 "
    "verifies. Synthetic near-dups are every 7th doc with its last 8 chars "
    "chopped (id + 7e6 band — 7e6 ≡ 0 mod 7, so any REAL doc whose id "
    "falls in the collision band is itself in the guarded %7 branch and "
    "raises; a 1e6 band would be unsound here since 1e6 % 7 = 1). Scale: the O(len^2) DP runs ONLY on blocked "
    "candidate pairs — one hash shuffle on the 40-char prefix, never "
    "all-pairs; hashing the block key (md5(prefix)) would keep "
    "exchange rows narrower. Levenshtein itself is "
    "a JVM built-in, identical semantics in DuckDB.",
)
def q_levenshtein_neardup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    guarded_id = F.when(
        F.col("doc_id") < 7_000_000, F.col("doc_id") + 7_000_000
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_levenshtein_neardup: doc_id >= 7_000_000 collides with "
                "the synthetic near-dup id band — re-derive the offset"
            )
        ).cast("long")
    )
    variant = d.filter(F.col("doc_id") % 7 == 0).select(
        guarded_id.alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.greatest(F.length("text") - 8, F.lit(1))
        ).alias("text"),
    )
    c = d.unionAll(variant)
    a = c.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.substring("text", 1, 40).alias("blk"),
    )
    b = c.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.substring("text", 1, 40).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.levenshtein("a_text", "b_text").alias("dist"),
        )
        .filter(F.col("dist") <= 24)
    )


@register(
    "q_stratified_sample",
    """SELECT doc_id, lang, source
       FROM documents
       WHERE ((doc_id % 100) * (2654435761 % 100)) % 100 <
             CASE lang WHEN 'en' THEN 35 ELSE 100 END""",
    "Stratified hash downsampling — the language-rebalancing pass of a "
    "pretraining mix: per-stratum keep-rates (en is ~44% of the corpus, "
    "so en keeps 35% while every other language keeps 100%) applied via "
    "the same Knuth-multiplier modular hash as q_hash_sample, so "
    "membership is a pure deterministic function of doc_id — replayable "
    "across engines, backfills, and reruns, with NO RNG state. Narrow "
    "map-side filter: the rate lookup is a CASE on the stratum column, "
    "the hash never shuffles; a large rates table would be a "
    "broadcast join instead of a literal CASE.",
)
def q_stratified_sample(spark, sf_dir):
    from real_time_rides_data_pipeline_spark.operators.clean import KNUTH_MULT

    d = _t(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id"), 100) * F.lit(KNUTH_MULT % 100), F.lit(100)
    )
    rate = F.when(F.col("lang") == "en", F.lit(35)).otherwise(F.lit(100))
    return d.filter(h < rate).select("doc_id", "lang", "source")


def _lsh_oracle() -> str:
    """Oracle for q_lsh_hyperplane, generated from the SAME deterministic
    plane family the Spark operator uses (operators/similarity.
    hyperplane_planes) — signature bits are bit-identical because both
    engines left-fold the plane dot products over IEEE doubles."""
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    planes = "[" + ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in p) + "]"
        for p in hyperplane_planes(16)
    ) + "]"
    pow8 = "[1, 2, 4, 8, 16, 32, 64, 128]"
    cos = _COSINE_SQL.format(q="b.embedding")
    return f"""WITH sig AS (
         SELECT vec_id, embedding,
                [CASE WHEN list_reduce(list_transform(range(64),
                           i -> embedding[i+1]::DOUBLE * pl[i+1]),
                           (x, y) -> x + y) >= 0
                      THEN 1 ELSE 0 END
                 for pl in {planes}] AS bits
         FROM embeddings
       ), sb AS (
         SELECT vec_id, embedding,
                list_reduce(list_transform(range(8),
                    j -> bits[j+1] * {pow8}[j+1]), (x, y) -> x + y) AS b0,
                list_reduce(list_transform(range(8),
                    j -> bits[j+9] * {pow8}[j+1]), (x, y) -> x + y) AS b1
         FROM sig
       )
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              floor(({cos}) * 1000000) / 1000000.0 AS cosine_sim
       FROM sb a JOIN sb b
         ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1)
       WHERE floor(({cos}) * 1000000) / 1000000.0 >= 0.4"""


@register(
    "q_lsh_hyperplane",
    _lsh_oracle(),
    "Random-hyperplane cosine LSH (Charikar SimHash for embeddings), "
    "banded 2×8 bits: sign-bit signatures from 16 deterministic ±1 "
    "hyperplanes, candidates collide on at least one band, exact cosine "
    ">= 0.4 verifies — the model-free complement to q_ann_ivf (no "
    "centroid fit, no sampling pass; a fixed bit budget instead). The "
    "ORACLE recomputes the identical signatures in DuckDB and brute-"
    "forces the band predicate, so this approximate index is still "
    "HASH-checked, not rows-only: both engines agree bit-for-bit on "
    "which pairs the index recalls. Scale: signature is a narrow map, "
    "candidates come from a banded self-equi-join (the q_minhash_neardup "
    "shape), exact cosine only on collisions.",
)
def q_lsh_hyperplane(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings", parallel=True)
    return SIM.hyperplane_lsh_pairs_above(emb, threshold=0.4)


@register(
    "q_jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "JSONL (newline-delimited JSON) source/sink round-trip — the lingua "
    "franca of LLM training corpora: the documents table is written as "
    "JSONL and read back with an EXPLICIT schema, and the oracle checks "
    "the round-trip is lossless against the parquet original. The read "
    "deliberately passes schema= rather than relying on inference: "
    "schema inference is a FULL EXTRA SCAN of the data and can "
    "mistype sparse fields; a declared schema "
    "makes the JSONL scan single-pass, splittable by line, and "
    "column-pruned at the parser. Writer fan-out follows the input "
    "partitioning — no shuffle either direction.",
)
def q_jsonl_roundtrip(spark, sf_dir):

    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir(prefix="jsonl_") + "/docs"
    d.write.mode("overwrite").json(path)
    return spark.read.schema(d.schema).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "q_decontaminate",
    """WITH train AS (
         SELECT doc_id,
                list_distinct(
                    [concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5],
                               w[i+6], w[i+7], w[i+8])
                     for i in range(greatest(len(w) - 7, 1))]) AS sh
         FROM (SELECT doc_id,
                      string_split_regex(trim(text), '\\s+') AS w
               FROM documents)
       ), eval_grams AS (
         SELECT DISTINCT
                unnest([concat_ws(' ', v[i+1], v[i+2], v[i+3], v[i+4],
                                  v[i+5], v[i+6], v[i+7], v[i+8])
                        for i in range(greatest(len(v) - 7, 1))]) AS g
         FROM (SELECT w[3:] AS v
               FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
                     FROM documents WHERE doc_id % 97 = 0))
       )
       SELECT DISTINCT t.doc_id AS contaminated_doc_id
       FROM (SELECT doc_id, unnest(sh) AS g FROM train) t
       JOIN eval_grams USING (g)""",
    "Benchmark DECONTAMINATION (the GPT-3-style n-gram overlap scrub): "
    "training docs sharing any 8-word shingle with an eval benchmark are "
    "flagged for removal so test answers don't leak into the training "
    "mix. The stand-in benchmark derives from the corpus itself (every "
    "97th doc minus its first two tokens — the realistic case where a "
    "benchmark quotes a span of a crawled page), so flagged docs are "
    "sparse but non-empty at every SF. Shape: distinct shingles exploded "
    "per doc, the eval side's distinct grams BROADCAST (benchmarks are "
    "small — millions of grams vs the corpus's trillions) and semi-joined "
    "against training grams — a hash join keyed on the shingle, never "
    "doc×doc; flagged ids from one distinct on the gram-join output.",
)
def q_decontaminate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    eval_text = d.filter(F.col("doc_id") % 97 == 0).select(
        F.concat_ws(
            " ",
            F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(1)).cast("int")),
        ).alias("text")
    )
    eval_grams = eval_text.select(
        F.explode(X.word_shingles(F.col("text"), 8)).alias("g")
    ).distinct()
    train_grams = d.select(
        "doc_id", F.explode(X.word_shingles(F.col("text"), 8)).alias("g")
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "g", "left_semi")
        .select(F.col("doc_id").alias("contaminated_doc_id"))
        .distinct()
    )


@register(
    "q_dataset_mix",
    """SELECT doc_id, lang, copy_idx
       FROM (SELECT doc_id, lang,
                    unnest(range(CASE WHEN lang = 'en' THEN 1 ELSE 3 END))
                        AS copy_idx
             FROM documents)""",
    "Weighted DATASET MIXING (epoch factors): low-resource languages are "
    "upsampled 3x into the training mix while en passes through once — "
    "each copy tagged with its epoch index so downstream shuffling/"
    "sharding can interleave deterministically. Map-side fan-out via "
    "explode over a per-row sequence; no shuffle, no RNG — the mix is a "
    "pure function of (doc_id, lang, weight table), so a backfill "
    "reproduces the identical corpus. A large weight table would be a "
    "broadcast join instead of a CASE literal, and fractional epoch "
    "factors compose with q_hash_sample's modular-hash keep-rule.",
)
def q_dataset_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_copies = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(3))
    return d.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), n_copies - 1)).alias("copy_idx"),
    )


@register(
    "q_orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "ORC source/sink round-trip: documents written as ORC (Spark-native "
    "columnar alternative where the lakehouse standardized on ORC — Hive "
    "heritage) and read back losslessly; the oracle is the parquet "
    "original. Same scan properties as parquet: splittable stripes, "
    "predicate pushdown, column projection; writer fan-out follows input "
    "partitioning — no shuffle either direction.",
)
def q_orc_roundtrip(spark, sf_dir):

    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir(prefix="orc_") + "/docs"
    d.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "q_csv_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "CSV source/sink round-trip with an EXPLICIT schema and header: the "
    "interchange format every external vendor drop arrives in. Quoting "
    "handles embedded delimiters; schema= (not inferSchema) keeps the "
    "read single-pass — inference costs a full extra scan and "
    "mistypes sparse columns. Lossless round-trip checked against the "
    "parquet original.",
)
def q_csv_roundtrip(spark, sf_dir):

    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir(prefix="csv_") + "/docs"
    d.write.mode("overwrite").option("header", True).csv(path)
    return (
        spark.read.schema(d.schema)
        .option("header", True)
        .csv(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


# =========================================================================
# ViT patch-grid schedule — the tiling plan every
# vision-transformer preprocessing pipeline materializes per image
# =========================================================================


@register(
    "q_patchify_meta",
    """WITH m AS (
         SELECT doc_id,
                octet_length(encode(text)) % 64 + 16 AS width,
                (octet_length(encode(text)) // 64) % 64 + 16 AS height
         FROM documents
       ), g AS (
         SELECT doc_id, width, height,
                width // 16 AS wp, height // 16 AS hp
         FROM m
       )
       SELECT doc_id,
              CAST(k AS BIGINT) AS patch_idx,
              CAST(k % wp AS BIGINT) AS px,
              CAST(k // wp AS BIGINT) AS py,
              CAST((k % wp) * 16 AS BIGINT) AS x0,
              CAST((k // wp) * 16 AS BIGINT) AS y0,
              CAST(k * 768 AS BIGINT) AS byte_offset
       FROM g, unnest(range(wp * hp)) AS t(k)""",
    "ViT PATCH-GRID schedule: per image, the full 16x16 patch tiling "
    "plan (patch index, grid coordinates, pixel origin, and the byte "
    "offset of each 16x16x3 patch in the decoded buffer) — the "
    "preprocessing fan-out every vision-transformer training pipeline "
    "materializes before the pixel decode, and the third member of the "
    "multimodal plumbing family (q_multimodal_meta parses headers, "
    "q_frame_sample samples temporal frames, this tiles the spatial "
    "plane). The width/height come through the SAME Arrow-batched "
    "mapInPandas metadata path as q_multimodal_meta (decode stays the "
    "documented PIL drop-in stub; the tiling arithmetic and the "
    "explode are real and exact), and the fan-out is a JVM-side "
    "posexplode of a sequence — rows per image = (w div 16)*(h div 16), "
    "bounded by the header, no Python in the hot path. Shape: one "
    "documents scan -> mapInPandas header parse -> sequence explode -> "
    "row-per-patch output; the explode factor is the patch "
    "count, exactly the fan-out the downstream trainer consumes.",
)
def q_patchify_meta(spark, sf_dir):
    d = MM.with_binary_payload(_t(spark, sf_dir, "documents", parallel=True))
    meta = MM.extract_image_metadata(d).select(
        "doc_id",
        F.expr("cast(width as bigint) div 16").alias("wp"),
        F.expr("cast(height as bigint) div 16").alias("hp"),
    )
    g = meta.select(
        "doc_id",
        "wp",
        F.explode(
            F.sequence(F.lit(0), F.col("wp") * F.col("hp") - 1)
        ).alias("k"),
    )
    return g.select(
        "doc_id",
        F.col("k").cast("long").alias("patch_idx"),
        F.expr("k % wp").cast("long").alias("px"),
        F.expr("k div wp").cast("long").alias("py"),
        F.expr("(k % wp) * 16").cast("long").alias("x0"),
        F.expr("(k div wp) * 16").cast("long").alias("y0"),
        (F.col("k") * 768).cast("long").alias("byte_offset"),
    )


# =========================================================================
# Streaming schema evolution — the stream twin of
# q_union_evolve / q_schema_union, closing the Silver mergeSchema
# nuance (02_silver_realtime_rides.py:114) under a mid-stream change
# =========================================================================


@register(
    "q_schema_evolve_stream",
    """SELECT event_id, user_id, epoch_us(ts) AS us,
              CAST(NULL AS VARCHAR) AS session_tag
       FROM events WHERE event_type = 'click' AND event_id % 4 = 1
       UNION ALL
       SELECT event_id, user_id, epoch_us(ts),
              concat('s', CAST(user_id % 10 AS VARCHAR))
       FROM events WHERE event_type = 'view' AND event_id % 4 = 2""",
    "STREAMING SCHEMA EVOLUTION — the reference's Silver sink declares "
    "mergeSchema=true (02_silver_realtime_rides.py:114) precisely so a "
    "restarted stream whose upstream gained a column can keep appending "
    "while the table widens. This key replays that lifecycle for real: "
    "stream run 1 appends the v1 schema (event_id, user_id, us) to the "
    "sink dir and stops; stream run 2 — a RESTART with the evolved v2 "
    "schema (+ session_tag), its own checkpoint, same sink path — "
    "appends; the final read merges footers (mergeSchema=true), so "
    "run-1 rows surface the new column as NULL. That widened union IS "
    "the oracle (batch UNION ALL with a NULL-typed column). A "
    "Structured Streaming source schema is immutable per query, so "
    "restart-to-evolve is the only correct mechanic — matching the "
    "reference, where the schema change also rides a notebook restart. "
    "The sink is foreachBatch -> batch parquet append (the engine's "
    "MERGE-path mechanic, sinks.py): the direct parquet FILE sink "
    "cannot host two query lifetimes — each restart would re-number "
    "batches from 0 in the shared _spark_metadata log and SHADOW the "
    "other run's files on read (verified here; Delta's transaction "
    "log is how the reference escapes this). Scale: both runs are "
    "ordinary append streams (no state store); the merged read costs "
    "one footer per file, and on Delta the log replaces the footer "
    "scan (sinks.py twin lights up when delta-spark is present).",
)
def q_schema_evolve_stream(spark, sf_dir):

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    v1 = ev.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 4 == 1)
    ).select("event_id", "user_id", F.unix_micros("ts").alias("us"))
    v2 = ev.filter(
        (F.col("event_type") == "view") & (F.col("event_id") % 4 == 2)
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.concat(F.lit("s"), (F.col("user_id") % 10)).alias("session_tag"),
    )
    # Stateless append streams: width irrelevant, keep the tiny default.
    # The v2 run restarts in the v1 run's session.
    s1, work = replay_stream(
        spark, "sev_v1", sf_dir, lambda: [v1.coalesce(1)], v1.schema, width=2
    )
    s2, _ = replay_stream(
        s1.sparkSession, "sev_v2", sf_dir, lambda: [v2.coalesce(1)], v2.schema
    )
    out = f"{work}/out"
    for i, stream in enumerate((s1, s2)):
        run_to_completion(
            stream.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", f"{work}/cp{i}")
        )
    return spark.read.option("mergeSchema", "true").parquet(out)


@register(
    "q_stream_restart_recovery",
    """SELECT event_id, user_id, epoch_us(ts) AS us
       FROM events WHERE event_type = 'signup' AND event_id % 4 = 3""",
    "CHECKPOINT RESTART RECOVERY — the live proof of the semantics the "
    "reference's every sink rests on (checkpointLocation at 01:85, "
    "02:115, 03:126): a stream processes batch 1 and STOPS; new data "
    "lands while the query is down; a NEW query starts against the "
    "SAME checkpoint and sink, and the file-source offset log makes it "
    "resume EXACTLY where the first run committed — batch 1's file is "
    "never re-read (no duplicates), the new file is picked up (no "
    "loss), so the final sink equals the one-shot batch oracle row for "
    "row. This is the restart-after-deploy / crash-after-commit "
    "lifecycle every production stream lives through; the harder "
    "crash-BETWEEN-sink-write-and-offset-commit window (where "
    "foreachBatch append is at-least-once) is owned by q_merge_upsert's "
    "batch_id-idempotent MERGE — together the two keys cover the "
    "exactly-once contract. Scale: recovery cost is reading the "
    "offset/commit log (O(batches), compacted), independent of data "
    "volume — the design reason Structured Streaming restarts are "
    "cheap whatever the data size.",
)
def q_stream_restart_recovery(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sources.files import (
        parquet_stream,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "signup") & (F.col("event_id") % 4 == 3)
        )
        .select("event_id", "user_id", F.unix_micros("ts").alias("us"))
    )
    work = _scratch_dir(prefix="restart_")
    inp, out, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    ev.filter(F.col("event_id") % 8 == 3).coalesce(1).write.parquet(inp)
    writer = scoped_writer_session(spark, shuffle_partitions=2)

    def sink(bdf, _bid):
        bdf.write.mode("append").parquet(out)

    replay = (
        parquet_stream(writer, inp, ev.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    run_to_completion(replay)  # run 1: commits batch 0 (the first half)
    # New data lands while the query is down.
    ev.filter(F.col("event_id") % 8 == 7).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_to_completion(replay)  # restart, SAME checkpoint: resumes past batch 0
    return spark.read.parquet(out)


@register(
    "q_stream_restart_evolve",
    """SELECT event_id, user_id, epoch_us(ts) AS us,
              CAST(NULL AS VARCHAR) AS session_tag
       FROM events WHERE event_type = 'purchase' AND event_id % 8 = 0
       UNION ALL
       SELECT event_id, user_id, epoch_us(ts),
              concat('s', CAST(user_id % 10 AS VARCHAR))
       FROM events WHERE event_type = 'purchase' AND event_id % 8 = 4""",
    "CHECKPOINT RESTART x SCHEMA EVOLUTION COMBINED — the reference's "
    "real deploy failure mode, which the two lifecycle keys contrasted "
    "below "
    "each cover only one dimension of: a restart WITH an evolved schema "
    "on the SAME checkpoint (mergeSchema at 02_silver_realtime_rides."
    "py:114 + checkpointLocation at 02:117 are on the same writer for "
    "exactly this reason). Run 1 streams the v1 schema (event_id, "
    "user_id, us) and stops; while the query is down a v2 file (+ "
    "session_tag) lands in the SAME source directory; run 2 restarts "
    "against the SAME checkpoint with the evolved v2 schema. The "
    "file-source offset log must resume past run 1's committed batch "
    "(the v1 file is NEVER re-read — a re-read would duplicate rows "
    "and fail the oracle) while picking up the v2 file (no loss), and "
    "the merged sink read widens run-1 rows with a NULL session_tag. "
    "That widened union IS the oracle. Contrast: q_schema_evolve_stream "
    "evolves across two INDEPENDENT checkpoints; q_stream_restart_"
    "recovery restarts on one checkpoint with a FIXED schema; this key "
    "is their composition — offset-log recovery and footer-merge "
    "widening proven to compose in one lifecycle. "
    "Scale: recovery cost is the compacted offset log (O(batches), "
    "data-volume independent); the merged read costs one footer per "
    "file — on Delta the transaction log replaces both (sinks.py twin "
    "lights up when delta-spark is present).",
)
def q_stream_restart_evolve(spark, sf_dir):

    from real_time_rides_data_pipeline_spark.sources.files import (
        parquet_stream,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v1 = ev.filter(F.col("event_id") % 8 == 0).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    v2 = ev.filter(F.col("event_id") % 8 == 4).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.concat(F.lit("s"), (F.col("user_id") % 10)).alias("session_tag"),
    )
    work = _scratch_dir(prefix="rse_")
    inp, out, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    v1.coalesce(1).write.parquet(inp)
    writer = scoped_writer_session(spark, shuffle_partitions=2)

    def sink(bdf, _bid):
        bdf.write.mode("append").parquet(out)

    # run 1: commits the v1 file under ckpt
    run_to_completion(
        parquet_stream(writer, inp, v1.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    # The schema change lands while the query is down (a deploy):
    # a v2 file with the new column appears in the SAME source dir.
    v2.coalesce(1).write.mode("append").parquet(inp)
    # RESTART: same checkpoint, evolved schema
    run_to_completion(
        parquet_stream(writer, inp, v2.schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    return spark.read.option("mergeSchema", "true").parquet(out)
