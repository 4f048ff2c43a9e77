"""Vector similarity expressions over embedding columns (array<float>).

JVM-native array lambdas (``zip_with``/``aggregate``) — no UDF, no Arrow
round-trip. Dot products fold left-to-right over the array, so results are
bit-identical across engines that share IEEE doubles and the same order
(DuckDB's list functions also fold sequentially) — that's what makes the
cosine queries oracle-checkable.

Scale path: brute-force top-k is a single scan + TakeOrderedAndProject
(fine whenever k ≪ N and the query set is small); LSH/IVF bucketing
(operators/similarity.py) cuts the candidate set before the exact pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """array<float> → array<double> once, so all arithmetic is double."""
    return F.transform(vec, lambda x: x.cast("double"))


def vec_lit(vec: list[float]) -> Column:
    """A double-array literal as ONE constant-folded expression.

    ``F.array(*[F.lit(float(x)) for x in vec])`` costs one py4j round
    trip per element and puts ``dim`` Literal nodes in the tree — at
    dim=64 repeated across 8 centroids this dominated q_ann_recall's
    wall clock (5.3 s of the 8 s total was DataFrame CONSTRUCTION; the
    same pathology as the Bloom 8192-Literal fold,
    operators/bloom.py). Here the vector is serialized to one comma-
    joined string literal and split/cast in-plan: the split of a
    literal is foldable, so Catalyst constant-folds it to the same
    array literal at optimization time — one py4j call, two tree nodes,
    identical runtime values. ``repr(float)`` is the shortest round-
    trip representation and Java's Double.parseDouble is correctly
    rounded, so the folded doubles are BIT-IDENTICAL to F.lit's
    (measured: collect() equality on the probe-order micro-benchmark;
    build 1.24 s → 0.17 s, exec 0.99 s → 0.41 s at 2k rows × 8
    centroids)."""
    if not vec:
        return F.expr("array()").cast("array<double>")
    s = ",".join(repr(float(x)) for x in vec)
    return F.expr(f"transform(split('{s}', ','), x -> cast(x as double))")


def mat_lit(mat: list[list[float]]) -> Column:
    """A 2-D double-array literal (array<array<double>>) as ONE
    constant-folded split-string expression — see ``vec_lit``. Rows are
    ';'-joined (a regex-literal char, no escaping), elements ','-joined.
    Callers iterate it with ``F.transform(mat_lit(m), lambda row: …)``
    or ``(row, i)`` for the index — replacing K duplicated expression
    subtrees with one HOF over the folded literal."""
    if not mat:
        return F.expr("array()").cast("array<array<double>>")
    s = ";".join(",".join(repr(float(x)) for x in row) for row in mat)
    return F.expr(
        f"transform(split('{s}', ';'), "
        "r -> transform(split(r, ','), x -> cast(x as double)))"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays; NULL on zero norms."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_rounded(a: Column, b: Column, dp: int = 6) -> Column:
    """Oracle-comparable cosine: floor-truncated to ``dp`` decimals.

    floor (not round) because identical doubles can still ROUND differently
    across engines (see functions.precision); the fold order here matches
    DuckDB's list_reduce, so the pre-truncation doubles are bit-identical.
    """
    from real_time_rides_data_pipeline_spark.functions.precision import floor_round

    return floor_round(cosine(a, b), dp)


def simhash_bits(hashes: Column, bits: int = 32) -> Column:
    """SimHash over an array of 64-bit token hashes: for each bit position,
    +1 if set else -1, summed across tokens; sign → bit. Returns the packed
    BIGINT signature. Pure array lambdas — O(tokens × bits) JVM work."""
    # NB: F.shiftleft needs a Python-int bit count, so inside lambdas the
    # bit masks come from pow(2.0, b). Exact because powers of two are
    # exactly representable as doubles at ANY in-range exponent (mantissa
    # is 1.0) — not just below 2^52 — so 60-bit callers (q_simhash_bands
    # uses pow(2.0, 59)) are safe.
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))

    def mask(b):  # 2^b as long
        return F.pow(F.lit(2.0), b).cast("long")

    votes = F.transform(
        bit_idx,
        lambda b: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask(b)) != 0, 1).otherwise(-1),
        ),
    )
    # pack sign bits: sum(2^i for i where votes[i] > 0)
    packed = F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, i: F.when(v > 0, mask(i)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two BIGINT bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))
