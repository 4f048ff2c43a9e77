"""Per-group min-max normalization — the per-key featurization kernel.

Two engines behind one API, selected by ``engine=``:

- ``"window"`` (default) — pure-JVM window aggregates + exact integer
  ``DIV`` arithmetic. Two window passes over one hash shuffle on the group
  key, whole-stage-codegen throughout. State per key is two longs, group
  size is irrelevant.
- ``"grouped_map"`` — ``groupBy(...).applyInPandas`` computing the same
  integers in numpy. This exists to exercise the grouped-map Pandas
  surface (SURVEY.md §2.9); it is NOT the scale default because grouped-map
  semantics materialize EACH GROUP AS ONE ARROW BATCH in the Python
  worker — a skewed giant key (one user with 10⁹ events) OOMs the worker,
  where the window engine just streams. Use it when the per-group logic
  genuinely cannot be expressed in SQL (model scoring, per-group fits);
  for anything window-expressible, use ``"window"``.

Determinism: the double→cents conversion happens ONCE, in Spark, via the
shared ``functions.precision.cents`` helper (SQL ``round()`` HALF_UP
semantics); the grouped-map path receives the already-exact longs, so both
engines do identical integer floor-division — no float rounding anywhere
(this also removes the numpy half-away-from-zero re-implementation that
diverged from SQL ``round()`` on boundary doubles).

Exactness bound: intermediate ``(c - mn) * scale`` stays in int64 — with
cents ≤ 2⁴⁰ (≈ $10 billion) and scale 10⁴ the product is ≤ 2⁵⁴ < 2⁶³.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.precision import cents


def grouped_minmax_normalize(df: DataFrame, engine: str = "window") -> DataFrame:
    """Normalize ``value`` to basis points ``[0, 10000]`` within each
    ``user_id`` group: ``(c - min) * 10000 DIV (max - min)``, 0 for
    constant groups. Output columns: ``(event_id, user_id, norm_bp)``;
    exact integer arithmetic end-to-end, bit-identical across engines."""
    scale = 10000
    base = df.select("event_id", "user_id", cents(F.col("value")).alias("__c"))
    if engine == "window":
        w = Window.partitionBy("user_id")
        spanned = base.select(
            "event_id",
            "user_id",
            "__c",
            F.min("__c").over(w).alias("__mn"),
            F.max("__c").over(w).alias("__mx"),
        )
        return spanned.select(
            "event_id",
            "user_id",
            # NULL cents stay NULL even in a constant group (the bare
            # mx=mn→0 arm would mint a 0 for them), keeping both engines
            # NULL-identical.
            F.expr(
                f"CASE WHEN __c IS NULL THEN CAST(NULL AS BIGINT) "
                f"WHEN __mx = __mn THEN 0L "
                f"ELSE (__c - __mn) * {scale} DIV (__mx - __mn) END"
            ).alias("norm_bp"),
        )
    if engine == "grouped_map":
        out_schema = ", ".join(
            base.schema[c].simpleString().replace(":", " ")
            for c in ("event_id", "user_id")
        ) + ", norm_bp long"

        def norm(pdf):
            import pandas as pd

            # Nullable Int64 (not int64): Arrow delivers NULL cents as NaN
            # in a float column, and plain astype("int64") would crash on
            # it. With Int64, NA propagates through the arithmetic and
            # comes back out as SQL NULL — matching the window engine,
            # whose min/max skip NULLs and whose expression yields NULL
            # for the NULL row (engine equality incl. NULLs is pinned in
            # tests/test_extensions.py).
            c = pdf["__c"].astype("Int64")
            lo, hi = c.min(), c.max()
            span = (hi - lo) if pd.notna(hi) else None
            nb = (c - lo) * scale // span if span else c * 0
            return pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "norm_bp": nb.astype("Int64"),
                }
            )

        # AQE would coalesce this tiny shuffle to ONE partition and
        # serialize every per-key pandas call — pin the key-hash width
        # (rationale: plans.shape.pin_group_partitioning docstring).
        from real_time_rides_data_pipeline_spark.plans.shape import (
            pin_group_partitioning,
        )

        return (
            pin_group_partitioning(base, "user_id")
            .groupBy("user_id")
            .applyInPandas(norm, out_schema)
        )
    raise ValueError(f"unknown engine {engine!r}: window | grouped_map")
