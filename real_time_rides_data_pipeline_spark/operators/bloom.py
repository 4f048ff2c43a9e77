"""Distributed Bloom filter built from DataFrame ops.

Spark's internal ``BloomFilterAggregate`` is not exposed in the public SQL
function registry (``bloom_filter_agg`` resolves only inside the optimizer's
injected runtime filters), so this module builds the same structure out of
public primitives:

- **Build** (distributed): each key produces ``k`` bit positions via seeded
  ``xxhash64``; positions explode to (word_index, bit) pairs and a
  ``bit_or(shiftleft(1L, bit))`` aggregation ORs them into 64-bit words —
  a map-side-combining hash aggregate, one shuffle on the word index.
- **Collect** (bounded): the filter is ``m_bits / 64`` longs — a constant-
  size driver fetch (64 KiB for the default 2^19 bits), the same bounded-
  scalar pattern as the IVF centroid fetch (operators/similarity.py).
- **Probe** (pure JVM): ``element_at`` into the literal word array + bit
  test, ANDed over the k hashes — foldable constants, whole-stage codegen,
  no Python, no join.

Classic guarantee: NO false negatives (every inserted key probes true);
false positives at rate ~(1 - e^(-k*n/m))^k are the caller's to remove
with an exact verify join (see queries_scale.q_bloom_decontaminate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_M_BITS = 1 << 19  # 8192 words = 64 KiB
DEFAULT_K = 5


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def build_bloom_words(
    df: DataFrame,
    col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Aggregate ``df[col]`` into a Bloom bitmap; returns the word array
    (``m_bits // 64`` Python ints, zeros included) for ``might_contain``."""
    assert m_bits % 64 == 0, "m_bits must be a multiple of 64"
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("pos")
    words = (
        df.select(pos)
        .select(
            F.expr("pos div 64").alias("w"),
            F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, b))").alias("word"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[int(r["w"])] = int(r["word"])
    # Saturation guard: an undersized filter (k*n >> m_bits) stays correct
    # (no false negatives) but degrades toward all-positives, silently
    # defeating the prefilter. The words are already in hand, so the check
    # is free: popcount/m > 1/2 means FP rate > (1/2)^k ~ 3% at k=5 and
    # climbing fast — warn so the caller sizes m_bits up.
    set_bits = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in arr)
    fill = set_bits / m_bits
    if fill > 0.5:
        import warnings

        warnings.warn(
            f"Bloom filter saturated: {fill:.0%} of {m_bits} bits set "
            f"(false-positive rate ~{fill ** k:.1%}); increase m_bits",
            RuntimeWarning,
            stacklevel=2,
        )
    return arr


def might_contain(
    col: Column,
    words: list[int],
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> Column:
    """Boolean Column: true iff all k bits for ``col`` are set in ``words``.
    The word array enters the plan as ONE literal (broadcast with the
    closure, constant-folded by codegen)."""
    assert len(words) == m_bits // 64
    # The word array enters the plan as ONE string literal split+cast to
    # array<bigint> — a foldable expression Catalyst constant-folds once.
    # (``F.lit(words)`` built one Literal node PER WORD: 8192 children at
    # the default sizing, ~7-8 s of analysis/codegen per invocation —
    # flat in data size, pure plan-build overhead.
    # The cast to bigint also keeps getbit on a 64-bit container; lit()
    # used to infer array<int> for sparse bitmaps and raise
    # BIT_POSITION_RANGE for any bit >= 32.)
    bloom = F.expr(
        "CAST(split('" + ",".join(map(str, words)) + "', ',')"
        " AS ARRAY<BIGINT>)"
    )
    cond = F.lit(True)
    for pos in _positions(col, m_bits, k):
        word = F.element_at(bloom, F.floor(pos / 64).cast("int") + 1)
        # getbit takes the bit index as a COLUMN (F.shiftleft does not)
        cond = cond & (F.getbit(word, F.pmod(pos, F.lit(64)).cast("int")) == 1)
    return cond
