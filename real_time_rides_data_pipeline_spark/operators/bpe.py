"""Iterative BPE tokenizer training (SURVEY.md §2.9 text family).

``q_bpe_pairs`` (queries_analytics.py) counts ONE round of adjacent
pairs; this operator runs the full training loop: M rounds of
  (1) count adjacent token pairs across the weighted word table,
  (2) pick the max-frequency pair (ties: lexicographic), and
  (3) greedily merge its non-overlapping occurrences left-to-right in
      every word's segmentation,
exactly the Sennrich et al. (2016) procedure. The loop is the standard
fit-small/broadcast-big shape (same contract as
``similarity.fit_centroids_kmeans`` and ``pca.fit_top2_gramian``): each
round is one distributed aggregation plus a BOUNDED driver fetch (one
argmax row), and the chosen merge folds back into the plan as literals
— the corpus is never collected, so the fit runs unchanged at 100 TB
(distinct-WORD table size, not corpus size, drives each round).

All arithmetic is integer (pair frequency = Σ word_count × occurrences)
→ bit-identical across engines and partitionings; determinism pinned
against a pure-python reference in tests/test_ml.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chars_of(col_name: str) -> Column:
    """Initial segmentation: one single-character token per position.

    Guarded for the empty string: sequence(1, 0) is DESCENDING [1, 0] in
    Spark, which would fabricate two ''-tokens (and a phantom ('','')
    adjacent pair) instead of an empty segmentation."""
    return F.expr(
        f"CASE WHEN length({col_name}) = 0 THEN array()\n"
        f"     ELSE transform(sequence(1, length({col_name})), "
        f"i -> substr({col_name}, i, 1)) END"
    )


def adjacent_pairs(seg: Column) -> Column:
    """All adjacent (left, right) token pairs of a segmentation (overlap
    counted per position, the standard BPE statistic)."""
    return F.when(
        F.size(seg) < 2, F.array().cast("array<struct<l:string,r:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(seg) - 1),
            lambda i: F.struct(
                F.element_at(seg, i).alias("l"),
                F.element_at(seg, i + 1).alias("r"),
            ),
        )
    )


def merge_pair(seg: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) →
    left||right — one BPE merge applied to one segmentation, as a pure
    JVM fold (no Python in the rewrite path)."""
    l_lit, r_lit = F.lit(left), F.lit(right)
    return F.aggregate(
        seg,
        F.array().cast("array<string>"),
        # try_element_at: NULL (→ condition false) on the empty accumulator
        # instead of an ANSI out-of-bounds error.
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == l_lit) & (x == r_lit),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(l_lit, r_lit)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    words: DataFrame, n_merges: int = 4
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, n) weighted word table.

    Returns [(step, left, right, merged, freq), ...]. Each round runs one
    pair-frequency aggregation over the distinct-word table and fetches a
    single argmax row; the merge is folded back as literals for the next
    round's plan.
    """
    from real_time_rides_data_pipeline_spark.session import (
        NARROW_LOOP_ROWS,
        narrow_loop_session,
    )

    # Checkpoint the weighted word table: without it every round's argmax
    # re-scans and re-tokenizes the corpus AND re-applies all prior merge
    # folds from scratch (O(M²) work, M corpus scans) — materializing
    # words implements the "word table is checkpointed once" scale
    # contract. Round k still re-applies k-1 folds to the MATERIALIZED
    # word table; with M ≲ tens that is cheap, and a per-round
    # localCheckpoint of `seg` is the documented escape hatch for
    # vocabulary-sized M.
    #
    # localCheckpoint (LogicalRDD), NOT persist(): the narrow clone below
    # receives the table through a global temp view, and a LogicalRDD
    # moves as materialized data while a persisted plan must re-match the
    # CacheManager from the clone — measured as a per-round corpus-agg
    # recompute (≈ +1.2 s over 4 rounds) when this used persist.
    words = words.localCheckpoint(eager=True)
    # The count is a cheap driver action on the materialized RDD and
    # sizes the loop session: a vocab-sized table iterates in a narrow
    # clone (AQE off, width ~rows/250k — the CC star-loop pattern); the
    # argmax rows are plain Python literals, so nothing needs rebinding
    # back to the parent. Measured (in-process interleaved min-of-4,
    # count included in the clone leg):
    # q_bpe_train 2.08 → 1.79 s, clone faster on every rep.
    n_words = words.count()
    w = words
    if 0 < n_words <= NARROW_LOOP_ROWS:
        w, _parent, _rebind = narrow_loop_session(words, n_words)
    try:
        seg = w.select(F.col("n"), chars_of("word").alias("seg"))
        merges: list[tuple[int, str, str, str, int]] = []
        for step in range(1, n_merges + 1):
            best = (
                seg.select(
                    "n", F.explode(adjacent_pairs(F.col("seg"))).alias("p")
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("n").alias("freq"))
                .orderBy(
                    F.col("freq").desc(), F.col("l").asc(), F.col("r").asc()
                )
                .limit(1)
                .collect()  # bounded: exactly one argmax row per round
            )
            if not best:
                break
            l, r, freq = best[0]["l"], best[0]["r"], int(best[0]["freq"])
            merges.append((step, l, r, l + r, freq))
            seg = seg.select("n", merge_pair(F.col("seg"), l, r).alias("seg"))
    finally:
        # Release the checkpoint's RDD blocks once the merges are on the
        # driver: DataFrame.unpersist only reaches the CacheManager, and a
        # localCheckpoint's blocks otherwise live as long as the
        # SparkContext, one set per call.
        words._jdf.queryExecution().analyzed().rdd().unpersist(False)
    return merges
