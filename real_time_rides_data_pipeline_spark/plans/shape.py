"""Plan shaping — keep expensive stages parallel and inspectable.

Why ``ensure_parallelism`` exists: a small parquet file packs into ONE input
partition (``spark.sql.files.maxPartitionBytes``), so a CPU-heavy per-row
stage (JSON parsing, hashing, shingling) downstream of the scan runs as a
single task on one core — measured on local[32] this is not just ~Nx slower
but erratically slow (occasional 30-80 s JIT-related stalls of a 0.5 s job on
one thread). The guard only kicks in when the scan produced fewer
partitions than the cluster has slots; a scan of many splits passes
through unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition (round-robin) iff the plan's current partitioning is below
    the cluster's parallelism. Batch-only (streaming plans manage their own
    partitioning); the partition probe materializes the physical plan, which
    is cheap for batch reads."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)


def pin_group_partitioning(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit ``repartition(defaultParallelism, *keys)`` for grouped-map /
    cogroup Pandas operators.

    Why: AQE's post-shuffle coalescing targets BYTES, not group counts or
    per-group Python-call overhead (~10 ms each) — on a small shuffle it
    coalesces to ONE partition and every per-group pandas call runs
    serially in a single Python worker (measured: q_cogroup_asof
    15.3 s → 1.6 s, q_grouped_normalize 4.4 s → 1.2 s at sf0.1). A
    user-specified partition count is exempt from AQE coalescing and
    satisfies the operator's required hash distribution, so no second
    exchange appears at any scale; at real scale the pin is simply the
    normal shuffle width."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def explain_str(df: DataFrame) -> str:
    """The .explain() text as a string (for tests that assert plan shape —
    e.g. PushedFilters reaching the scan, broadcast joins chosen)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
