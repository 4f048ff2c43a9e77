"""Training-sequence packing: greedy assignment of documents to fixed
token-budget packs.

The LLM-pipeline step that turns a tokenized corpus into dense model
contexts. A single global running sum would serialize the corpus through
one partition, so packing is SHARDED: deterministic shard = id % n_shards,
then an in-partition cumulative sum per shard after ONE hash shuffle. Each
shard is an independent sequential scan of its own partition — the same
shape as any keyed window.

Greedy-packing contract (property-tested in tests/test_properties.py):
- every document lands in exactly one pack (token totals are preserved);
- pack_id is the floor of the document's running START offset / budget, so
  a pack can overflow the budget by less than one document (exact bin
  packing is NP-hard and order-destroying — no production pipeline does it);
- pack ids are offset BUCKETS, not a counter: a document larger than the
  budget advances the offset past whole buckets and the skipped ids simply
  never materialize (callers wanting dense ids dense_rank over the output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_assignments(
    df: DataFrame,
    id_col: str,
    tok_col: str,
    budget: int,
    n_shards: int,
) -> DataFrame:
    """Adds (shard, pack_id) to ``df``. Deterministic given (id, tokens);
    ids must be non-negative. One hash shuffle on shard."""
    t = df.withColumn("shard", F.col(id_col) % n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum(tok_col).over(w))
    # start offsets are exact integers far below 2^52, so floor(double/b)
    # is exact (functions.precision module docstring, fact 2)
    return c.withColumn(
        "pack_id",
        F.floor((F.col("cum") - F.col(tok_col)) / budget).cast("long"),
    ).drop("cum")


def pack_stats(
    df: DataFrame, id_col: str, tok_col: str, budget: int, n_shards: int
) -> DataFrame:
    """(shard, pack_id, n_docs, pack_tokens) — the summary the registered
    key q_sequence_pack publishes. Reuses the shard partitioning: the
    groupBy adds no second exchange (plan-pinned)."""
    return (
        pack_assignments(df, id_col, tok_col, budget, n_shards)
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_col).cast("long").alias("pack_tokens"),
        )
    )
