"""KMV (k-minimum-values / theta) sketch: mergeable distinct-count and
set-expression cardinality estimation.

The missing member of the sketch family next to HLL (distinct counts,
``queries_mining``) and CMS (frequencies, ``operators/cms.py``): a KMV
sketch IS a uniform sample of the hash space below a data-adaptive
threshold theta, which is what lets it estimate INTERSECTIONS and other
set expressions — HLL can only union. References: Bar-Yossef et al. 2002
(counting distinct elements), Dasu et al. / the DataSketches theta
framework (public Apache DataSketches documentation).

Estimator math (all exact integer / DECIMAL(38,0) arithmetic — no float
division, cross-engine deterministic):

- h maps each element through xxhash64 to a uniform 64-bit value; the
  sketch keeps the k SMALLEST in unsigned order (signed order == unsigned
  order after XOR with the sign bit; the unsigned magnitude is
  ``v + 2^63``).
- With k-th minimum theta, (k-1) distinct values landed strictly below
  theta ⇒ N_hat = (k-1) * 2^64 div theta_u.
- Intersection (theta framework): with theta = min(theta_A, theta_B),
  every distinct value of A∩B lands below theta with probability
  theta_u / 2^64, and the sketches RETAIN every such landing ⇒
  N_hat(A∩B) = |sk_A ∩ sk_B below theta| * 2^64 div theta_u.
- Union: the k smallest of the merged sketches are exactly the sketch of
  A∪B (mergeability by construction — the same argument as CMS cell sums).
- A sketch smaller than k holds EVERY element's hash ⇒ the count is
  exact; callers read ``n_kept < k`` as the exact regime.

Scale: building a sketch is one distinct + TakeOrderedAndProject
(per-partition k-heaps, no global sort); everything after runs on ≤ k-row
frames. RSE ≈ 1/sqrt(k-1) (~6.3% at k = 256) for single sets; the
intersection's effective sample is |sk_A ∩ sk_B below theta|, so its
error grows as the overlap shrinks — the honest limitation every theta
sketch carries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 2^64 and 2^63 as DECIMAL-safe string literals for expr arithmetic.
_TWO64 = "18446744073709551616"
_TWO63 = "9223372036854775808"


def unsigned_ordered_hash(col: Column) -> Column:
    """xxhash64 mapped so SIGNED ordering equals UNSIGNED hash ordering
    (XOR the sign bit); unsigned magnitude = value + 2^63."""
    return F.xxhash64(col).bitwiseXOR(F.lit(-(2**63)))


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """The k smallest distinct unsigned-ordered hashes of ``df[col]`` as a
    1-column frame ``v`` (≤ k rows). Distinct + per-partition top-k heap —
    never a global sort."""
    return (
        df.select(unsigned_ordered_hash(F.col(col)).alias("v"))
        .distinct()
        .orderBy("v")
        .limit(k)
    )


def _theta_est(theta_frame: DataFrame, k: int) -> DataFrame:
    """(k-1) * 2^64 div theta_u from a 1-row frame with ``theta``/``n_kept``
    columns; exact count when the sketch never filled."""
    return theta_frame.select(
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(
            F.expr(
                f"CAST(({k} - 1) * CAST({_TWO64} AS DECIMAL(38,0)) div "
                f"(CAST(theta AS DECIMAL(38,0)) + {_TWO63}) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est")
    )


def sketch_theta(sk: DataFrame) -> DataFrame:
    """1-row frame (theta, n_kept) of a sketch frame."""
    return sk.agg(
        F.max("v").alias("theta"), F.count(F.lit(1)).alias("n_kept")
    )


def kmv_estimate(sk: DataFrame, k: int = 256) -> DataFrame:
    """1-row, 1-column ``est``: the KMV distinct-count estimate."""
    return _theta_est(sketch_theta(sk), k)


def kmv_union(sk_a: DataFrame, sk_b: DataFrame, k: int = 256) -> DataFrame:
    """Sketch of the UNION — merge + keep k smallest (mergeable by
    construction; both inputs are ≤ k rows)."""
    return sk_a.unionByName(sk_b).distinct().orderBy("v").limit(k)


def kmv_intersect_estimate(
    sk_a: DataFrame, sk_b: DataFrame, k: int = 256
) -> DataFrame:
    """1-row frame ``est``: theta-framework intersection estimate —
    |sk_a ∩ sk_b strictly below the effective theta| * 2^64 div theta_u.
    Exact when both sketches never filled (theta acts as +inf).

    An UNFILLED sketch (n_kept < k) retains EVERY hash of its set, so its
    theta is effectively +inf — it must not bound the retained sample.
    The effective theta is therefore the min over FILLED sides only (the
    standard theta framework); substituting the unfilled side's max
    retained hash would still give a valid sample/scale pair but shrink
    the retained sample and inflate variance for no correctness gain. With exactly one side filled the
    estimate scales by the filled theta alone — still an estimate, since
    the unfilled side's completeness does not survive intersection with
    a sampled set."""
    ta = sketch_theta(sk_a).select(
        F.col("theta").alias("ta"), F.col("n_kept").alias("na")
    )
    tb = sketch_theta(sk_b).select(
        F.col("theta").alias("tb"), F.col("n_kept").alias("nb")
    )
    common = (
        sk_a.join(sk_b, "v")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    both_exact = (F.col("na") < k) & (F.col("nb") < k)
    # Effective theta: +inf (max signed long — above every real hash) for
    # an unfilled side, so only FILLED sketches bound the sample.
    inf = F.lit(2**63 - 1)
    eff_ta = F.when(F.col("na") < k, inf).otherwise(F.col("ta"))
    eff_tb = F.when(F.col("nb") < k, inf).otherwise(F.col("tb"))
    kept = common.filter(
        both_exact | (F.col("v") < F.least(eff_ta, eff_tb))
    )
    agg = kept.agg(
        F.count(F.lit(1)).alias("m"),
        F.min(F.least(eff_ta, eff_tb)).alias("theta"),
        F.min(both_exact.cast("int")).alias("exact"),
    )
    # Disjoint sketches: the agg runs over ZERO rows, so theta/exact are
    # NULL and the scaled estimate would be NULL — the right answer for
    # an empty retained sample is 0 (coalesce, not a special case join).
    return agg.select(
        F.coalesce(
            F.when(F.col("exact") == 1, F.col("m")).otherwise(
                F.expr(
                    f"CAST(m * CAST({_TWO64} AS DECIMAL(38,0)) div "
                    f"(CAST(theta AS DECIMAL(38,0)) + {_TWO63}) AS BIGINT)"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("est")
    )
