"""Text-analysis expressions for large-scale training-data pipelines.

All pure JVM Column expressions (whole-stage codegen, no Python in the hot
path): tokenization, shingling, language-ID heuristic, quality scoring,
token counting, fingerprinting. Designed for the ``documents`` table
(doc_id, text, lang, source, n_chars) but column-name agnostic.

These run embarrassingly parallel over the scan; the only shuffles are
whatever aggregation the caller adds downstream.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- tokenization ----------------------------------------------------------


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string>. ``split`` on a run of
    whitespace; trims first so no empty edge tokens."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword count without a vocab: word-piece splits on letter/
    digit/punct boundaries plus a length penalty (≈ GPT-style ~4 chars per
    token). Deterministic, regex-only: count of matches of
    word-chunks-or-punct, where long words count ceil(len/4)."""
    words = F.split(F.trim(text), r"\s+")
    # ceil(len/4) per word, min 1 — aggregate JVM-side over the array
    # (init cast to long: F.aggregate requires init/merge types to agree)
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(F.ceil(F.length(w) / 4.0), F.lit(1).cast("long")),
    ).cast("long")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles → array<string> (the MinHash/Jaccard unit).
    Built with transform over index sequence — no explode, no shuffle.

    ``try_element_at``, not ``element_at``: for a doc with fewer than n
    tokens the guard index [0] still probes positions past the array end,
    and under ANSI mode (the deployed default) ``element_at`` THROWS on
    out-of-bounds instead of yielding NULL — a crash on any short document.
    try_element_at yields NULL and concat_ws skips it, producing the same
    short gram as the DuckDB oracles' NULL-skipping list comprehension."""
    w = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[F.try_element_at(w, (i + k + 1).cast("int")) for k in range(n)],
            ),
        )
    )


# --- language ID (marker-word heuristic) -----------------------------------

#: Tiny per-language marker lexicons (top function words). A real pipeline
#: swaps in fastText/CLD3 via a Pandas UDF; this heuristic is deterministic
#: and SQL-portable for the oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "de"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: most marker-word hits wins; ties broken by a
    fixed language order; no hits → ``und``. O(tokens × langs) JVM work,
    zero shuffle."""
    toks = tokens(F.lower(text))
    scores = [(lang, _marker_hits(toks, m)) for lang, m in LANG_MARKERS.items()]
    best = None
    best_score = None
    for lang, score in scores:
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            cond = score > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


# --- quality scoring --------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in", "that", "it", "for")


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (Gopher/C4-style cheap filters):
    char/token lengths, mean word length, stopword ratio, punctuation and
    non-alnum ratios. Combine/threshold downstream."""
    from real_time_rides_data_pipeline_spark.functions.precision import floor_round

    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(F.transform(toks, F.lower), lambda t: F.array_contains(stop_arr, t)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    n_nonalnum = n_chars - F.length(F.regexp_replace(text, r"[^A-Za-z0-9 ]", ""))
    # ratios floor-truncated (portable given identical int/int divisions —
    # see functions.precision); raw counts kept exact for oracle checks
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_stopwords": n_stop.cast("long"),
        "mean_word_len": floor_round((n_chars - n_tok + 1) / n_tok, 4),
        "stopword_ratio": floor_round(n_stop / n_tok, 4),
        "punct_ratio": floor_round(n_punct / n_chars, 4),
        "nonalnum_ratio": floor_round(n_nonalnum / n_chars, 4),
    }


def quality_score(text: Column) -> Column:
    """Single [0,1] quality score: stopword presence up-weights (natural
    prose), extreme word lengths and symbol soup down-weight. Weights are
    arbitrary-but-fixed; the operator contract is determinism, not linguistic
    truth."""
    from real_time_rides_data_pipeline_spark.functions.precision import floor_round

    f = quality_features(text)
    raw = (
        F.lit(0.5)
        + F.least(f["stopword_ratio"] * 2, F.lit(0.3))
        - F.least(f["nonalnum_ratio"] * 2, F.lit(0.4))
        - F.when((f["mean_word_len"] < 3) | (f["mean_word_len"] > 12), 0.2).otherwise(0.0)
    )
    return floor_round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 4)


# --- fingerprinting ---------------------------------------------------------


def md5_int60(col: Column) -> Column:
    """First 15 md5 hex nibbles (60 bits) as a nonnegative BIGINT — the
    ENGINE-PORTABLE integer hash of this codebase (xxhash64/hash are
    Spark-specific; DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``,
    the q_feature_hash convention). Shared by the hashing-trick featurizer
    and the value-checked MinHash/SimHash siblings."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
