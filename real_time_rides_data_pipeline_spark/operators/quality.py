"""Declarative data-quality expectations (Delta Live Tables-style).

The reference hard-codes one validity predicate chain
(/root/reference/src/02_silver_realtime_rides.py:71-79); this operator
generalizes it: callers declare named boolean expectations, get back the
retained frame plus a per-expectation pass/fail stats frame — the audit
artifact every managed pipeline publishes alongside its tables.

Scale: both outputs are single-pass. The stats frame is ONE aggregate over
the scan (sums of CASE WHEN, partial+final, no per-expectation rescan) and
the retained frame is a plain conjunctive filter that pushes down like any
other predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def retain(df: DataFrame, expectations: dict[str, Column]) -> DataFrame:
    """Rows satisfying EVERY expectation (the DLT ``expect_or_drop`` mode)."""
    cond = F.lit(True)
    for c in expectations.values():
        cond = cond & c
    return df.filter(cond)


def violations(df: DataFrame, expectations: dict[str, Column]) -> DataFrame:
    """Rows failing at least one expectation (the quarantine stream)."""
    cond = F.lit(False)
    for c in expectations.values():
        # NULL predicate result counts as a violation (same as retain:
        # NULL never satisfies the conjunctive filter)
        cond = cond | ~F.coalesce(c, F.lit(False))
    return df.filter(cond)


def expectation_stats(df: DataFrame, expectations: dict[str, Column]) -> DataFrame:
    """One row per expectation: (expectation, n_pass, n_fail), n_pass+n_fail
    = row count. Single aggregate pass, then a stack() unpivot of the one
    result row — the unpivot touches E*1 values, not data."""
    import re

    if not expectations:
        # stack(0, ) is a confusing runtime SQL parse error; fail clearly
        raise ValueError("expectations must be non-empty")
    for name in expectations:
        # names are spliced into a selectExpr stack() literal — restrict to
        # identifier characters so a quote can neither break nor inject SQL
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(
                f"expectation name {name!r} must match [A-Za-z0-9_]+"
            )
    aggs = []
    for name, cond in expectations.items():
        ok = F.coalesce(cond, F.lit(False))
        aggs.append(F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias(f"p_{name}"))
        aggs.append(F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias(f"f_{name}"))
    wide = df.agg(*aggs)
    pairs = ", ".join(
        f"'{name}', p_{name}, f_{name}" for name in expectations
    )
    return wide.selectExpr(
        f"stack({len(expectations)}, {pairs}) AS (expectation, n_pass, n_fail)"
    )


def tcloseness_audit(
    df,
    qi_cols: list[str],
    band_col: str,
):
    """t-CLOSENESS audit over an ORDERED sensitive-value domain (the
    library form behind ``q_tcloseness``): per QI group, the Earth
    Mover's Distance to the global distribution via the ordered-domain
    identity EMD = Σ|cumulative diffs| / (m−1) (Li, Li,
    Venkatasubramanian 2007), kept exact over the common denominator
    n_group·N — integer arithmetic end to end, DECIMAL-widened where the
    N² products pass 2^63. Returns one row per QI group:
    (qi..., group_n, emd_ppm, violates_t), where ``violates_t`` flags an
    EMD above t = 0.25 (250000 ppm).

    Shape: one input scan compresses to per-(QI, band) counts; absent
    cells still shift the cumulative diffs, so a |QI|×|bands| spine
    cross join materializes them with zero counts (domain-bounded);
    every window runs over that compressed table. Requires ≥ 2 distinct
    bands (the m−1 normalizer)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = df.groupBy(*qi_cols, F.col(band_col).alias("__band")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # tiny (|QI|·|bands| rows); reused by THREE frames — without pinning,
    # each reference re-runs the input scan + agg.
    base = base.localCheckpoint(eager=True)
    groups = base.select(*qi_cols).distinct()
    bands = base.select("__band").distinct()
    spine = (
        groups.crossJoin(F.broadcast(bands))
        .join(base, [*qi_cols, "__band"], "left")
        .select(
            *qi_cols,
            "__band",
            F.coalesce(F.col("__cnt"), F.lit(0)).alias("__cnt"),
        )
    )
    w_g = Window.partitionBy(*qi_cols)
    w_b = Window.partitionBy("__band")
    w_all = Window.partitionBy()
    w_cum = w_g.orderBy("__band")
    c = spine.select(
        *qi_cols,
        F.sum("__cnt").over(w_g).alias("__n_group"),
        F.sum("__cnt").over(w_all).alias("__n_total"),
        F.count(F.lit(1)).over(w_g).alias("__m"),
        F.sum(
            F.col("__cnt").cast("decimal(38,0)")
            * F.sum("__cnt").over(w_all)
            - F.sum("__cnt").over(w_b).cast("decimal(38,0)")
            * F.sum("__cnt").over(w_g)
        )
        .over(w_cum)
        .alias("__cum"),
    )
    emd = F.expr(
        "CAST(sum(abs(__cum)) * 1000000 div "
        "((min(__m) - 1) * CAST(min(__n_group) AS DECIMAL(38,0)) "
        " * min(__n_total)) AS BIGINT)"
    )
    return c.groupBy(*qi_cols).agg(
        F.min("__n_group").cast("long").alias("group_n"),
        emd.alias("emd_ppm"),
        (emd > 250000).alias("violates_t"),
    )
