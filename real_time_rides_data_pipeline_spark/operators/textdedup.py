"""Near-duplicate text detection at scale: MinHash+LSH, SimHash, n-gram
Jaccard. The LLM-training-data dedup suite (SURVEY.md §2.9).

Scale design:
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

#: The id and text columns of a documents frame.
ID_COL = "doc_id"
TEXT_COL = "text"

#: Words per MinHash shingle.
SHINGLE_WORDS = 3


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
    df: DataFrame, n_hashes: int = 16, shingles_col: str | None = None
) -> DataFrame:
    """MinHash signature of the 3-word shingles of ``text`` as the
    array<bigint> column ``minhash``: for seed i, min over shingles of
    xxhash64(shingle, i). One pass, all JVM-side.

    ``shingles_col`` additionally keeps the shingle array as an output
    column computed ONCE: a caller that needs both the signature and the
    shingle sets (LSH + exact verify) otherwise re-evaluates the
    tokenize→n-gram→array_distinct chain in the same projection — the
    staged column is referenced twice, so CollapseProject keeps it
    materialized (0.76× on the 64-hash signature pass, OPTIMIZATION_r16.md).

    Raises ``ValueError`` when ``df`` already has the staged ``__mh_sh``
    column (checked only when ``shingles_col`` is None)."""
    if shingles_col is None:
        _require_free(df, "__mh_sh")
    keep = shingles_col or "__mh_sh"
    staged = df.withColumn(keep, word_shingles(F.col(TEXT_COL), SHINGLE_WORDS))
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col(keep), lambda s, i=i: F.xxhash64(s, F.lit(i)))
            )
            for i in range(n_hashes)
        ]
    )
    out = staged.withColumn("minhash", sig)
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
    df: DataFrame, shingles_col: str | None = None
) -> DataFrame:
    """ENGINE-PORTABLE MinHash signature of the 3-word shingles of
    ``text`` (column ``minhash``, array<bigint>, 16 hashes): one
    md5-60-bit base hash per shingle reduced mod 2^31-1, then the 16
    per-seed hashes are fixed AFFINE transforms (a_i*h + b_i) mod 2^31-1
    of the shared base — the classic universal family, so the signature
    costs ONE digest + 16 modmuls per shingle instead of 16 digests
    (md5 is ~20x a xxhash64; the affine reuse keeps the portable
    signature within ~2x of the xxhash64 one). DuckDB recomputes it
    exactly, which is what converts LSH candidate generation from
    rows-only to value-checked (q_minhash_bands).

    The base-hash array is materialized as its own projected column so
    CollapseProject does NOT inline the md5 chain into each of the 16
    array_min lambdas (the q_simhash_est_hamming staging trick — one md5
    pass, not 16). ``shingles_col`` keeps the shingle array as an output
    column computed ONCE (see ``with_minhash_signature``; 0.63× on the
    signature projection when the caller needs both, OPTIMIZATION_r16.md).

    Raises ``ValueError`` when ``df`` already has the staged ``_mh_base``
    column, or ``_mh_sh`` when ``shingles_col`` is None."""
    from real_time_rides_data_pipeline_spark.functions.text import md5_int60

    _require_free(df, "_mh_base")
    if shingles_col is None:
        _require_free(df, "_mh_sh")
    keep = shingles_col or "_mh_sh"
    staged = df.withColumn(
        keep, word_shingles(F.col(TEXT_COL), SHINGLE_WORDS)
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
    out = staged.withColumn("minhash", sig).drop("_mh_base")
    return out if shingles_col else out.drop(keep)


def minhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """LSH banding: split the ``minhash`` signature into 4 equal slices;
    docs sharing any band slice become a candidate pair. Explode is over
    bands (constant factor), the join is a self-equi-join on (band_idx,
    band_hash) — a hash shuffle on small keys. Emits (id_a < id_b)
    distinct pairs."""
    bands = 4
    rows_per_band = F.floor(F.size("minhash") / bands).cast("int")
    banded = df.select(
        F.col(ID_COL),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("minhash"), (b * rows_per_band + 1).cast("int"), rows_per_band)
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
            & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")),
        )
        .select(
            F.col(f"a.{ID_COL}").alias("id_a"), F.col(f"b.{ID_COL}").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard_pairs(
    pairs: DataFrame, shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact-verify candidate pairs: join shingle sets back, compute
    |∩|/|∪|, keep pairs ≥ threshold. Output (id_a, id_b, jaccard).

    ``shingles`` is a ``(doc_id, sh)`` frame that must already be
    materialized (the signature pass's checkpoint): both candidate-side
    joins consume it, and an unmaterialized frame re-derives the full
    docs scan + shingle chain on each side."""
    j = (
        pairs.join(shingles.withColumnRenamed(ID_COL, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shingles.withColumnRenamed(ID_COL, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
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


def minhash_near_duplicates(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """End-to-end MinHash+LSH near-dup over ``(doc_id, text)``: 16-hash
    signature → 4-band join → exact verify.

    The signature table is materialized (``localCheckpoint``) before the band
    self-join: both join branches would otherwise re-evaluate the full
    shingle→16×xxhash64 chain — measured ~8× slower than computing it once.
    At cluster scale this is the "write signatures, then join" pattern (the
    signature table is also what incremental dedup reuses across runs).

    The checkpoint carries ``(id, sh, minhash)`` — NOT the raw text: the
    shingle array is computed once in the signature projection and reused
    by the exact verify, so the corpus is scanned and tokenized exactly
    once per invocation (0.84× end-to-end against a second scan + shingle
    pass, OPTIMIZATION_r16.md)."""
    signed = with_minhash_signature(docs, shingles_col="__sh").select(
        ID_COL, "__sh", "minhash"
    )
    signed = signed.localCheckpoint(eager=True)
    cands = minhash_candidate_pairs(signed)
    shingles = signed.select(ID_COL, F.col("__sh").alias("sh"))
    return exact_jaccard_pairs(cands, shingles, threshold)


def simhash_near_duplicates(docs: DataFrame) -> DataFrame:
    """SimHash near-dup over ``(doc_id, text)``: 32-bit signature from
    token hashes; candidates share at least one of 4 byte-bands
    (guarantees recall for distance ≤ 3 within any single band
    difference... pigeonhole: d ≤ 3 < 4 bands ⇒ at least one band equal);
    exact Hamming verify ≤ 3."""
    bits, n_bands = 32, 4
    band_bits = bits // n_bands
    signed = docs.select(
        F.col(ID_COL),
        simhash_bits(
            F.transform(tokens(F.col(TEXT_COL)), lambda t: F.xxhash64(t)), bits
        ).alias("simhash"),
    )
    # Materialize before the self-join (same rationale as MinHash above).
    signed = signed.localCheckpoint(eager=True)
    banded = signed.select(
        ID_COL,
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
            & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")),
        )
        .select(
            F.col(f"a.{ID_COL}").alias("id_a"),
            F.col(f"b.{ID_COL}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def _span_positions(df, n):
    """Shared positional n-token span generator: returns (tokenized frame,
    exploded (id, __span) positions). Explodes POSITIONS with the token
    array as a pass-through column — see ``dup_span_profile`` for why the
    prebuilt-array alternative is 8x slower and why the empty-sequence
    guard is load-bearing (``sequence(1, 0)`` counts DOWN)."""
    # tk feeds BOTH the span explode and the caller's per-doc span-count
    # projection — checkpoint so the scan + tokenize runs once, not twice.
    tk = df.select(
        F.col(ID_COL), tokens(F.col(TEXT_COL)).alias("__w")
    ).localCheckpoint(eager=False)
    positions = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    ex = tk.select(
        ID_COL, "__w", F.explode(positions).alias("__i")
    ).select(
        ID_COL,
        F.array_join(F.slice("__w", F.col("__i"), n), " ").alias("__span"),
    )
    return tk, ex


def span_novelty_profile(df, n: int = 8):
    """Span-level NOVELTY profile — the first-occurrence complement of
    ``dup_span_profile`` for ingestion-ordered corpora (growing-corpus
    curation: how much of an incoming doc is new text vs already-ingested
    spans): a span position in doc d is NOVEL iff no doc with a smaller
    ``doc_id`` contains the same n-token sequence (the minimum-id owner of
    each span keeps ALL its positions of it, including within-doc
    repeats). Emits (id, n_spans, n_novel_spans, novelty_ppm) with the
    ppm an exact integer floor division.

    Same three compact-aggregate shuffles as the dup profile — the
    per-span window computes min(id) instead of a distinct-doc count."""
    from pyspark.sql import Window

    tk, ex = _span_positions(df, n)
    g = ex.groupBy("__span", ID_COL).agg(F.count("*").alias("__pos"))
    g2 = g.withColumn(
        "__first", F.min(ID_COL).over(Window.partitionBy("__span"))
    )
    nov = g2.groupBy(ID_COL).agg(
        F.sum(
            F.when(F.col(ID_COL) == F.col("__first"), F.col("__pos"))
            .otherwise(0)
        )
        .cast("long")
        .alias("__nov")
    )
    per_doc = tk.select(
        ID_COL,
        F.greatest(F.size("__w") - n + 1, F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return per_doc.join(nov, ID_COL, "left").select(
        ID_COL,
        "n_spans",
        F.coalesce("__nov", F.lit(0)).cast("long").alias("n_novel_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.expr(
                "(1000000 * coalesce(__nov, 0L)) div n_spans"
            ),
        ).alias("novelty_ppm"),
    )


def dup_span_profile(df: DataFrame, n: int = 8) -> DataFrame:
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
    — plus the doc-level equi-join. Raw span strings keep the DuckDB
    oracle exact; xxhash64 keys would shrink the shuffle to 8 bytes per
    span with the same plan shape. Property-tested against the
    brute-force positional definition."""
    from pyspark.sql import Window

    tk, ex = _span_positions(df, n)
    g = ex.groupBy("__span", ID_COL).agg(F.count("*").alias("__pos"))
    g2 = g.withColumn(
        "__ndocs", F.count("*").over(Window.partitionBy("__span"))
    )
    dup = g2.groupBy(ID_COL).agg(
        F.sum(F.when(F.col("__ndocs") >= 2, F.col("__pos")).otherwise(0))
        .cast("long")
        .alias("__ndup")
    )
    per_doc = tk.select(
        ID_COL,
        F.greatest(F.size("__w") - n + 1, F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return per_doc.join(dup, ID_COL, "left").select(
        ID_COL,
        "n_spans",
        F.coalesce("__ndup", F.lit(0)).cast("long").alias("n_dup_spans"),
        (
            (F.col("n_spans") > 0)
            & (5 * F.coalesce("__ndup", F.lit(0)) >= F.col("n_spans"))
        ).alias("flag_dup_heavy"),
    )
