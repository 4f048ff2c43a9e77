"""Near-duplicate text detection at scale: MinHash+LSH, SimHash, n-gram
Jaccard. The LLM-training-data dedup suite (SURVEY.md §2.9).

Scale design (100 TB story):
- Signatures are computed scan-side with JVM array lambdas (no explode of
  shingles → no |doc|×|shingles| blow-up through a shuffle).
- LSH banding turns all-pairs O(N²) into a groupBy on band buckets: only
  docs sharing a band collide. The band join shuffles (bucket_hash) pairs,
  NOT document text; the exact-verify join pulls shingle sets only for the
  candidate pairs (a tiny fraction of N²).
- Exact Jaccard verification keeps precision = 1; banding controls recall
  (16 hashes × 4-row bands ⇒ P[catch | j=0.8] ≈ 1-(1-0.8⁴)⁴ ≈ 0.94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.text import tokens, word_shingles
from real_time_rides_data_pipeline_spark.functions.vectors import (
    hamming64,
    simhash_bits,
)


def _require_free(df: DataFrame, *names: str) -> None:
    """Raise if ``df`` already has a column the caller would lose when a
    staging column of that name is added and then dropped."""
    taken = {c.lower() for c in df.columns}
    for name in names:
        if name.lower() in taken:
            raise ValueError(
                f"input already has a column named {name!r}, which MinHash "
                f"signing stages and drops; rename it first"
            )


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_words: int = 3,
    out_col: str = "minhash",
    shingles_col: str | None = None,
) -> DataFrame:
    """MinHash signature as array<bigint>: for seed i, min over shingles of
    xxhash64(shingle, i). One pass, all JVM-side.

    ``shingles_col`` additionally keeps the shingle array as an output
    column computed ONCE: a caller that needs both the signature and the
    shingle sets (LSH + exact verify) otherwise re-evaluates the
    tokenize→n-gram→array_distinct chain in the same projection — the
    staged column is referenced twice, so CollapseProject keeps it
    materialized (round-16 A/B: 0.76× on the 64-hash signature pass).

    Raises ``ValueError`` when ``df`` already has the staged ``__mh_sh``
    column (checked only when ``shingles_col`` is None)."""
    if shingles_col is None:
        _require_free(df, "__mh_sh")
    keep = shingles_col or "__mh_sh"
    staged = df.withColumn(keep, word_shingles(F.col(text_col), shingle_words))
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col(keep), lambda s, i=i: F.xxhash64(s, F.lit(i)))
            )
            for i in range(n_hashes)
        ]
    )
    out = staged.withColumn(out_col, sig)
    return out if shingles_col else out.drop(keep)


#: Modulus of the portable MinHash affine family: 2^31 - 1 (Mersenne
#: prime). Base hashes and affine coefficients are both < 2^31, so every
#: intermediate a*h + b < 2^62 — BIGINT-safe on Spark AND DuckDB (no wrap
#: on one engine vs overflow error on the other).
MINHASH_P = 2_147_483_647

#: 16 fixed (a, b) affine coefficients, a in [1, P), b in [0, P) — frozen
#: literals (seeded draw, seed 0xDEC0DE) shared verbatim by the Spark leg
#: and the DuckDB oracle SQL so the signatures hash-match cross-engine.
MINHASH_AB: tuple[tuple[int, int], ...] = (
    (261201444, 2104221750), (1176763124, 2042855840),
    (2070751466, 635568811), (842258775, 66472274),
    (942681590, 933221598), (3573214, 765396042),
    (1336107649, 421094376), (2071955887, 1971048338),
    (2086696122, 816560761), (745139491, 829783670),
    (970448071, 627999035), (1011472506, 1619760593),
    (544483266, 497424571), (2071960460, 890267373),
    (663645592, 1632633907), (206728309, 1980248493),
)


def with_minhash_signature_portable(
    df: DataFrame,
    text_col: str = "text",
    shingle_words: int = 3,
    out_col: str = "minhash",
    shingles_col: str | None = None,
) -> DataFrame:
    """ENGINE-PORTABLE MinHash signature (array<bigint>, 16 hashes): one
    md5-60-bit base hash per shingle reduced mod 2^31-1, then the 16
    per-seed hashes are fixed AFFINE transforms (a_i*h + b_i) mod 2^31-1
    of the shared base — the classic universal family, so the signature
    costs ONE digest + 16 modmuls per shingle instead of 16 digests
    (md5 is ~20x a xxhash64; the affine reuse keeps the portable
    signature within ~2x of the xxhash64 one). DuckDB recomputes it
    exactly, which is what converts LSH candidate generation from
    rows-only to value-checked (q_minhash_bands, round 14).

    The base-hash array is materialized as its own projected column so
    CollapseProject does NOT inline the md5 chain into each of the 16
    array_min lambdas (the q_simhash_est_hamming staging trick — one md5
    pass, not 16). ``shingles_col`` keeps the shingle array as an output
    column computed ONCE (see ``with_minhash_signature``; round-16 A/B:
    0.63× on the signature projection when the caller needs both).

    Raises ``ValueError`` when ``df`` already has the staged ``_mh_base``
    column, or ``_mh_sh`` when ``shingles_col`` is None."""
    from real_time_rides_data_pipeline_spark.functions.text import md5_int60

    _require_free(df, "_mh_base")
    if shingles_col is None:
        _require_free(df, "_mh_sh")
    keep = shingles_col or "_mh_sh"
    staged = df.withColumn(
        keep, word_shingles(F.col(text_col), shingle_words)
    ).withColumn(
        "_mh_base", F.transform(F.col(keep), lambda s: md5_int60(s) % MINHASH_P)
    )

    def affine(a: int, b: int):
        # closure factory, NOT default args: PySpark derives HOF lambda
        # arity from the signature, so `lambda h, a=a, b=b` binds as a
        # 3-arg lambda and fails analysis
        return lambda h: (h * a + b) % MINHASH_P

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_mh_base"), affine(a, b)))
            for a, b in MINHASH_AB
        ]
    )
    out = staged.withColumn(out_col, sig).drop("_mh_base")
    return out if shingles_col else out.drop(keep)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` equal slices; docs
    sharing any band slice become a candidate pair. Explode is over bands
    (constant factor), the join is a self-equi-join on (band_idx, band_hash)
    — a hash shuffle on small keys. Emits (id_a < id_b) distinct pairs."""
    rows_per_band = F.floor(F.size(sig_col) / bands).cast("int")
    banded = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col(sig_col), (b * rows_per_band + 1).cast("int"), rows_per_band)
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard_pairs(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-verify candidate pairs: join shingle sets back, compute
    |∩|/|∪|, keep pairs ≥ threshold. Output (id_a, id_b, jaccard).

    ``shingles`` is an ``(id_col, sh)`` frame that must already be
    materialized (the signature pass's checkpoint): both candidate-side
    joins consume it, and an unmaterialized frame re-derives the full
    docs scan + shingle chain on each side."""
    j = (
        pairs.join(shingles.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shingles.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup: signature → band join → exact verify.

    The signature table is materialized (``localCheckpoint``) before the band
    self-join: both join branches would otherwise re-evaluate the full
    shingle→16×xxhash64 chain — measured ~8× slower than computing it once.
    At cluster scale this is the "write signatures, then join" pattern (the
    signature table is also what incremental dedup reuses across runs).

    The checkpoint carries ``(id, sh, minhash)`` — NOT the raw text: the
    shingle array is computed once in the signature projection and reused
    by the exact verify, so the corpus is scanned and tokenized exactly
    once per invocation (round-16: was a second full scan + shingle pass;
    A/B 0.84× end-to-end)."""
    signed = with_minhash_signature(
        docs, text_col, n_hashes, shingle_words, shingles_col="__sh"
    ).select(id_col, "__sh", "minhash")
    signed = signed.localCheckpoint(eager=True)
    cands = minhash_candidate_pairs(signed, id_col, "minhash", bands)
    shingles = signed.select(id_col, F.col("__sh").alias("sh"))
    return exact_jaccard_pairs(cands, shingles, id_col, threshold)


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: 32-bit signature from token hashes; candidates
    share at least one of 4 byte-bands (guarantees recall for distance ≤ 3
    within any single band difference... pigeonhole: d ≤ 3 < 4 bands ⇒ at
    least one band equal); exact Hamming verify ≤ max_hamming."""
    n_bands = 4
    band_bits = bits // n_bands
    signed = docs.select(
        F.col(id_col),
        simhash_bits(
            F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)), bits
        ).alias("simhash"),
    )
    # Materialize before the self-join (same rationale as MinHash above).
    signed = signed.localCheckpoint(eager=True)
    banded = signed.select(
        id_col,
        "simhash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                # simhash ≥ 0 and < 2^32 ⇒ unsigned shift == exact floordiv 2^k
                lambda b: F.floor(
                    F.col("simhash") / F.pow(F.lit(2.0), b * band_bits)
                )
                .cast("long")
                .bitwiseAND(F.lit((1 << band_bits) - 1).cast("long")),
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _span_positions(df, n, id_col, text_col):
    """Shared positional n-token span generator: returns (tokenized frame,
    exploded (id, __span) positions). Explodes POSITIONS with the token
    array as a pass-through column — see ``dup_span_profile`` for why the
    prebuilt-array alternative is 8x slower and why the empty-sequence
    guard is load-bearing (``sequence(1, 0)`` counts DOWN)."""
    # tk feeds BOTH the span explode and the caller's per-doc span-count
    # projection — checkpoint so the scan + tokenize runs once, not twice.
    tk = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__w")
    ).localCheckpoint(eager=False)
    positions = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    ex = tk.select(
        id_col, "__w", F.explode(positions).alias("__i")
    ).select(
        id_col,
        F.array_join(F.slice("__w", F.col("__i"), n), " ").alias("__span"),
    )
    return tk, ex


def span_novelty_profile(
    df, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
):
    """Span-level NOVELTY profile — the first-occurrence complement of
    ``dup_span_profile`` for ingestion-ordered corpora (growing-corpus
    curation: how much of an incoming doc is new text vs already-ingested
    spans): a span position in doc d is NOVEL iff no doc with a smaller
    ``id_col`` contains the same n-token sequence (the minimum-id owner of
    each span keeps ALL its positions of it, including within-doc
    repeats). Emits (id, n_spans, n_novel_spans, novelty_ppm) with the
    ppm an exact integer floor division.

    Same three compact-aggregate shuffles as the dup profile — the
    per-span window computes min(id) instead of a distinct-doc count."""
    from pyspark.sql import Window

    tk, ex = _span_positions(df, n, id_col, text_col)
    g = ex.groupBy("__span", id_col).agg(F.count("*").alias("__pos"))
    g2 = g.withColumn(
        "__first", F.min(id_col).over(Window.partitionBy("__span"))
    )
    nov = g2.groupBy(id_col).agg(
        F.sum(
            F.when(F.col(id_col) == F.col("__first"), F.col("__pos"))
            .otherwise(0)
        )
        .cast("long")
        .alias("__nov")
    )
    per_doc = tk.select(
        id_col,
        F.greatest(F.size("__w") - n + 1, F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return per_doc.join(nov, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("__nov", F.lit(0)).cast("long").alias("n_novel_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.expr(
                "(1000000 * coalesce(__nov, 0L)) div n_spans"
            ),
        ).alias("novelty_ppm"),
    )


def dup_span_profile(
    df: DataFrame, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Span-level exact duplication profile (Lee et al. 2021 ExactSubstr at
    fixed shingle grain): for every POSITIONAL n-token span (duplicates
    within a doc kept — positions matter), a span is duplicated iff the
    identical token sequence occurs in >= 2 distinct documents. Emits one
    row per doc: (id, n_spans, n_dup_spans, flag_dup_heavy) where the
    >=20% flag is integer cross-multiplication (5*n_dup >= n_spans).

    Span generation EXPLODES POSITIONS, not a prebuilt span array:
    ``explode(sequence(1, len-n+1))`` then one slice+join per generated
    row, with the token array riding through the Generate as a
    pass-through column. Building the full span array under the generator
    instead re-evaluates the O(len·n) construction per emitted row —
    measured 8x slower at sf0.1 (37.6s -> ~6s end-to-end). The sequence
    is guarded empty for docs shorter than n because Spark's
    ``sequence(1, 0)`` counts DOWN ([1, 0]) rather than yielding an empty
    array — an unguarded short doc would emit a slice at position 0 and
    crash under ANSI.

    Scale: the explode carries (id, token-array, position) — no
    materialization of span text until the per-row projection; then three
    compact-aggregate shuffles — (span, id) partial count, a per-span
    window OVER THAT AGGREGATE (never the raw positions), per-doc rollup
    — plus the doc-level equi-join. At 100 TB the span strings would be
    xxhash64-compressed to 8-byte shuffle keys (identical plan shape);
    raw strings keep the DuckDB oracle exact. Property-tested against the
    brute-force positional definition."""
    from pyspark.sql import Window

    tk, ex = _span_positions(df, n, id_col, text_col)
    g = ex.groupBy("__span", id_col).agg(F.count("*").alias("__pos"))
    g2 = g.withColumn(
        "__ndocs", F.count("*").over(Window.partitionBy("__span"))
    )
    dup = g2.groupBy(id_col).agg(
        F.sum(F.when(F.col("__ndocs") >= 2, F.col("__pos")).otherwise(0))
        .cast("long")
        .alias("__ndup")
    )
    per_doc = tk.select(
        id_col,
        F.greatest(F.size("__w") - n + 1, F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return per_doc.join(dup, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("__ndup", F.lit(0)).cast("long").alias("n_dup_spans"),
        (
            (F.col("n_spans") > 0)
            & (5 * F.coalesce("__ndup", F.lit(0)) >= F.col("n_spans"))
        ).alias("flag_dup_heavy"),
    )
