"""Sinks: streaming append, the parquet MERGE sinks, and the foreachBatch
adapter that connects a stream to a merge.

The reference's signature sink is a Delta MERGE keyed on
(window_start, window_end, driver_id) per micro-batch
(03_gold_realtime_rides.py:91-113, condition 03:108). Without delta-spark
the ``merge_*_parquet`` sinks emulate MERGE over plain parquet. Each keeps
only its merge rule (a ``fold`` of the existing table and the batch);
``_merge_into`` is the one commit path they share: recover, replay guard,
write-to-temp, stamp the batch id, crash-ordered swap.
``foreach_batch_merge`` wires any merge behind ``foreachBatch`` exactly
like the reference. With delta on the classpath, ``merge_upsert_delta`` is
the production Gold path (``pipeline.run_streaming_gold`` picks it).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

try:  # pragma: no cover - delta not in this container
    from delta.tables import DeltaTable

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


#: Sentinel distinguishing "caller said nothing" from an explicit
#: ``trigger_seconds=None`` — so ``available_now=True`` with the DEFAULT
#: trigger works (the default resolves to 10 only on the processing-time
#: path) while an EXPLICIT processing-time trigger still conflicts.
_TRIGGER_UNSET = object()


def stream_append_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int | None | object = _TRIGGER_UNSET,
    available_now: bool = False,
) -> DataStreamWriter:
    """Append sink with checkpoint + fixed micro-batch trigger — the Bronze/
    Silver sink shape (01_bronze:82-90, 02_silver:112-118). Returns the
    un-started writer so callers control lifecycle.

    The Silver sink's schema-evolution opt-in (``.option("mergeSchema",
    "true")``, 02_silver:114) has no twin here: mergeSchema is a parquet
    READ-side option. Schema-divergent appends succeed as they are, files
    with old and new schemas coexist, and readers merge them with
    ``spark.read.option("mergeSchema", "true")`` — old rows read NULL for
    the new columns, matching Delta's post-evolution view.
    """
    w = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .option("path", path)
    )
    if available_now:
        # Trigger.AvailableNow: drain the current backlog in rate-limited
        # micro-batches, then terminate — the production mode for
        # incremental batch jobs (process-what-arrived-since-last-run on a
        # schedule, exactly-once via the same checkpoint). Mutually
        # exclusive with an EXPLICIT processing-time trigger; the unset
        # default is simply ignored (it only means anything on the
        # processing-time path).
        if trigger_seconds is not _TRIGGER_UNSET and trigger_seconds is not None:
            raise ValueError(
                "available_now and trigger_seconds are mutually exclusive"
            )
        return w.trigger(availableNow=True)
    if trigger_seconds is _TRIGGER_UNSET:
        trigger_seconds = 10
    if trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w


def merge_upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: tuple[str, ...],
) -> None:
    """MERGE emulation on plain parquet: latest-wins per key.

    whenMatchedUpdateAll + whenNotMatchedInsertAll ≡ anti-join the target
    against the updates' keys, then union the updates — the classic
    merge-without-MERGE, committed through ``_merge_into``. Takes no
    ``batch_id``: latest-wins replay is already idempotent, and a marker
    would make a stream restarted on a fresh checkpoint skip every batch
    id at or below the old one. At 100 TB this full-table rewrite is why
    Delta exists (MERGE rewrites only touched files); semantics here are
    identical.
    """
    # ``updates`` feeds TWO plan legs (the anti-join's key side and the
    # union) — without pinning, each leg re-executes the whole upstream
    # subtree. Inside foreachBatch that subtree can be a stateful
    # Python fold (applyInPandasWithState) or a windowed agg with state
    # stores: re-execution doubles the dominant cost of the micro-batch
    # (A/B on q_stateful_running's shape at sf0.1: ~9-11 s → ~4-5 s per
    # invocation with the pin). Skip when the caller already pinned.
    pin = not updates.is_cached
    if pin:
        updates.persist()

    def fold(target: DataFrame | None) -> DataFrame:
        if target is None:
            return updates
        keep = target.join(
            updates.select(*keys).distinct(), list(keys), "left_anti"
        )
        return keep.unionByName(updates)

    try:
        _merge_into(spark, target_path, None, fold)
    finally:
        if pin:
            updates.unpersist()


def _swap_dir(tmp: str, target_path: str) -> None:
    """Crash-ordered directory swap: rename the live target ASIDE, rename
    tmp in, delete the old copy — never rmtree-then-rename, which loses
    the whole table if the process dies between the two calls. The window
    where ``target_path`` is missing is narrowed to a single rename pair
    (not zero — POSIX rename can't swap two directories atomically), and
    it is RECOVERABLE: the aside copy survives a crash, and
    ``_recover_dir`` (called by every reader/merger entry) renames the
    newest ``.__old_*`` back before concluding the table never existed.
    On rename failure the old dir is restored in-process; after a
    successful swap all stale ``.__old_*``/``.__tmp_*`` siblings from
    earlier crashed swaps are swept best-effort."""
    if not os.path.exists(target_path):
        os.rename(tmp, target_path)
        return
    old = f"{target_path}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(target_path, old)
    try:
        os.rename(tmp, target_path)
    except BaseException:
        os.rename(old, target_path)
        raise
    # The swap is already committed — a cleanup failure must not make the
    # merge look failed (and a surviving aside dir is handled by the
    # best-effort sweep, never restored while the target exists).
    shutil.rmtree(old, ignore_errors=True)
    _sweep_stale_siblings(target_path)


def _stale_siblings(target_path: str) -> list[str]:
    parent = os.path.dirname(target_path) or "."
    base = os.path.basename(target_path)
    if not os.path.isdir(parent):
        return []
    return [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(f"{base}.__old_") or d.startswith(f"{base}.__tmp_")
    ]


def _sweep_stale_siblings(target_path: str) -> None:
    """Delete leftover aside/tmp dirs from PREVIOUS crashed swaps — only
    safe to call while the live target exists (single-writer contract)."""
    for d in _stale_siblings(target_path):
        shutil.rmtree(d, ignore_errors=True)


def _recover_dir(target_path: str) -> None:
    """If a crash hit the one-rename window (target missing, aside copy
    present), restore the newest aside copy; tmp dirs are incomplete
    writes and are discarded. No-op when the target exists."""
    if os.path.exists(target_path):
        return
    olds = [
        d for d in _stale_siblings(target_path)
        if ".__old_" in os.path.basename(d)
    ]
    if olds:
        # Suffixes are random uuid hex — lexical order is arbitrary. Pick
        # the newest snapshot by mtime so repeated crashes can't restore a
        # stale copy over newer data (and re-arm CDC replay double-counts).
        os.rename(max(olds, key=os.path.getmtime), target_path)
        _sweep_stale_siblings(target_path)


def merge_upsert_delta(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: tuple[str, ...],
) -> None:  # pragma: no cover - delta not in this container
    """Production MERGE (port of 03_gold:93-113): bootstrap write if the
    target isn't a Delta table yet, else keyed whenMatched/whenNotMatched."""
    if not HAVE_DELTA:
        raise RuntimeError("delta-spark not installed; use merge_upsert_parquet")
    if not DeltaTable.isDeltaTable(spark, target_path):
        updates.write.format("delta").mode("overwrite").save(target_path)
        return
    cond = " AND ".join(f"target.{k} = updates.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, target_path)
        .alias("target")
        .merge(updates.alias("updates"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


#: Marker file recording the last applied batch id INSIDE the state dir —
#: underscore-prefixed so Spark's parquet reader ignores it. Living inside
#: the swapped directory makes (data + marker) one atomic commit: a replay
#: after any crash either sees both or neither.
_BATCH_MARKER = "_applied_batch_id"


def _read_batch_marker(target_path: str) -> int | None:
    p = os.path.join(target_path, _BATCH_MARKER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def _commit_with_marker(
    df: DataFrame,
    target_path: str,
    batch_id: int | None,
    prior_marker: int | None,
) -> None:
    """Write-to-temp, stamp the last-applied batch id INSIDE the directory
    (one atomic unit with the data), crash-ordered swap. A batch_id-less
    call (ad-hoc backfill) must CARRY the existing marker forward —
    dropping it would silently re-arm replay double-counting for the
    stream that owns this table."""
    tmp = f"{target_path}.__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    marker = batch_id if batch_id is not None else prior_marker
    if marker is not None:
        with open(os.path.join(tmp, _BATCH_MARKER), "w") as f:
            f.write(str(marker))
    _swap_dir(tmp, target_path)


def _merge_into(
    spark: SparkSession,
    target_path: str,
    batch_id: int | None,
    fold: Callable[[DataFrame | None], DataFrame],
) -> None:
    """The one commit path of every parquet MERGE sink. Restore an aside
    copy a crashed swap left behind, skip a batch id at or below the
    recorded marker (an at-least-once replay of a committed batch: a fold
    is not replay-safe on its own), then commit ``fold(existing table, or
    None before the first commit)`` with the marker. The marker protocol
    assumes batch ids are applied in monotonic order — exactly Structured
    Streaming's foreachBatch contract (replays re-deliver the same id,
    never skip ahead). A ``fold`` that raises leaves table and marker
    untouched."""
    _recover_dir(target_path)
    prior_marker = _read_batch_marker(target_path)
    if (
        batch_id is not None
        and prior_marker is not None
        and batch_id <= prior_marker
    ):
        return
    existing = (
        spark.read.parquet(target_path)
        if os.path.exists(target_path)
        else None
    )
    _commit_with_marker(fold(existing), target_path, batch_id, prior_marker)


def merge_cdc_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: tuple[str, ...],
    order_cols: tuple[str, ...],
    add_cols: tuple[str, ...] = (),
    batch_id: int | None = None,
) -> None:
    """Ordered (version-guarded) CDC MERGE on plain parquet.

    The upsert rule every CDC sink needs under OUT-OF-ORDER delivery:
    an update wins only if its ``order_cols`` tuple (e.g. (ts, event_id))
    is >= the target row's — so batches may arrive in any order and the
    table still converges to the latest-writer state (Delta's
    ``whenMatchedUpdate(condition=...)``; Debezium's LSN guard).
    ``add_cols`` are ADDITIVE accumulators (e.g. op counts) merged by
    summation instead of replacement — the (latest-state, running-count)
    combo a materialized CDC view maintains. Tombstones (delete markers)
    are RETAINED in the table: filtering them at merge time would let an
    older late-arriving upsert resurrect a deleted key; readers filter.

    ``batch_id`` (pass foreachBatch's id) makes the merge IDEMPOTENT under
    at-least-once redelivery (``_merge_into``): the version guard alone
    makes latest-state replay-safe, but the additive accumulator is NOT —
    a replayed batch would silently double-count. NOTE the two guards
    protect different axes: order_cols covers out-of-order DATA
    within/across applied batches, the batch id covers redelivery.

    Full-outer join on the key, one shuffle — same scale caveat as
    ``merge_upsert_parquet`` (Delta MERGE rewrites only touched files;
    this rewrites the table)."""
    non_keys = [c for c in updates.columns if c not in keys]

    def fold(target: DataFrame | None) -> DataFrame:
        if target is None:
            return updates
        u = updates.select(
            *keys, *[F.col(c).alias(f"__u_{c}") for c in non_keys]
        )
        j = target.join(u, list(keys), "full_outer")
        u_ord = F.struct(*[F.col(f"__u_{c}") for c in order_cols])
        t_ord = F.struct(*[F.col(c) for c in order_cols])
        newer = F.col(f"__u_{order_cols[0]}").isNotNull() & (
            F.col(order_cols[0]).isNull() | (u_ord >= t_ord)
        )
        out_cols = [F.col(k) for k in keys]
        for c in non_keys:
            if c in add_cols:
                merged = F.coalesce(F.col(c), F.lit(0)) + F.coalesce(
                    F.col(f"__u_{c}"), F.lit(0)
                )
            else:
                merged = F.when(newer, F.col(f"__u_{c}")).otherwise(F.col(c))
            out_cols.append(merged.alias(c))
        return j.select(*out_cols)

    _merge_into(spark, target_path, batch_id, fold)


#: merge rules for merge_distributive_parquet — every distributive
#: aggregate (Gray et al., the data-cube taxonomy) folds through one of
#: these; struct columns order lexicographically, so argmin/argmax state
#: travels as min/max over an ordering-key struct.
_DISTRIBUTIVE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def merge_distributive_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: tuple[str, ...],
    agg_spec: dict[str, str],
    batch_id: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Keyed MERGE folding DISTRIBUTIVE aggregates on plain parquet: per
    key, each state column merges by its own monoid — ``sum`` (counters,
    moments, sketch cells), ``min``/``max`` (extrema; argmin/argmax via a
    lexicographic ordering-key struct, which is how streaming OHLC carries
    open/close). An all-``sum`` spec is the additive merge of mergeable
    sketches (count-min cells, moments, signed IVM deltas). Replayed batch
    ids are skipped (``_merge_into``): a fold is not replay-safe on its
    own. One union + map-side-combining aggregate per merge.

    ``num_partitions`` caps the committed state's file count for THIS
    writer via ``coalesce`` on the aggregated result — applied AFTER the
    fold so partial aggregation still combines map-side at full input
    parallelism and the only data moved post-cap is |keys|-sized. Per-
    writer layout control: never a session ``spark.sql.shuffle.partitions``
    mutation a concurrent query would observe, and never a raw-row
    repartition ahead of the agg (which would shuffle the whole batch
    uncombined)."""
    unknown = {v for v in agg_spec.values()} - set(_DISTRIBUTIVE_FNS)
    if unknown:
        raise ValueError(f"non-distributive merge fns: {sorted(unknown)}")
    cols = list(agg_spec)
    aggs = [_DISTRIBUTIVE_FNS[fn](c).alias(c) for c, fn in agg_spec.items()]

    def fold(target: DataFrame | None) -> DataFrame:
        # Bootstrap aggregates too: first-batch duplicate keys must fold
        # the same way later merges do, and the projection pins one schema.
        merged = updates.groupBy(*keys).agg(*aggs)
        if target is not None:
            merged = (
                target.select(*keys, *cols)
                .unionByName(merged)
                .groupBy(*keys)
                .agg(*aggs)
            )
        if num_partitions is not None:
            merged = merged.coalesce(num_partitions)
        return merged

    _merge_into(spark, target_path, batch_id, fold)


def merge_topk_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: tuple[str, ...],
    order_col: str,
    k: int,
    descending: bool = False,
    batch_id: int | None = None,
) -> None:
    """Keyed TOP-K state MERGE on plain parquet: per key group, retain the
    k smallest (or largest) DISTINCT rows by ``order_col`` across all
    batches — the state fold behind streaming KMV/theta sketches (k
    minimum hash values per set), streaming leaderboards, and per-key
    top-k materializations. Truncated set-union is associative,
    commutative, and idempotent (dropping a value beyond the k-th extreme
    can never evict a value that belongs in the final k), so any merge
    order converges to the batch answer bit-for-bit — the same
    mergeability argument the KMV estimator itself rests on
    (operators/kmv.py). Replayed batch ids are skipped like every other
    merge sink's (``_merge_into``) — re-unioning is harmless for a set,
    but the skip keeps the sink contract uniform. Shape: union + one rank
    window per key group over state bounded at |keys|·k rows — the
    state, not the stream, is what gets re-ranked."""
    from pyspark.sql import Window as W

    cols = [*keys, order_col]
    order = (
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    )
    w = W.partitionBy(*keys).orderBy(order) if keys else W.orderBy(order)

    def fold(target: DataFrame | None) -> DataFrame:
        base = updates.select(*cols)
        if target is not None:
            base = target.select(*cols).unionByName(base)
        return (
            base.distinct()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    _merge_into(spark, target_path, batch_id, fold)


def foreach_batch_merge(
    df: DataFrame,
    checkpoint: str,
    merge: Callable[[DataFrame, int], None],
) -> DataStreamWriter:
    """The one adapter from a stream to a MERGE sink (03_gold:121-128
    shape): ``foreachBatch`` calling ``merge(batch_df, batch_id)`` on every
    non-empty micro-batch. Returns the un-started writer.

    Differs from the reference deliberately (SURVEY §4.3.1): ``update``
    output mode + upstream watermark ⇒ bounded state; each batch carries
    only changed rows and the merge folds them in. A stateless stream in
    ``update`` mode emits exactly what ``append`` would.
    """

    def run(batch_df: DataFrame, batch_id: int) -> None:
        # Pin the batch result across its references (the isEmpty probe +
        # the merge's legs): the frame handed to foreachBatch re-executes
        # its micro-batch plan — stateful Pandas fold, state store
        # restore/commit and all — on EVERY action otherwise. The empty
        # check also skips the no-data batch a watermarked stream emits.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            merge(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(run)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file COMPACTION — the maintenance op every streaming parquet
    sink eventually needs: micro-batch appends leave one-file-per-trigger
    fragments whose per-file open/footer cost dominates scans long before
    data volume does. Rewrites ``path`` into ``ceil(bytes/target)`` files
    (pure coalesce — a partition-count reduction with NO shuffle) and swaps
    the directory atomically (write temp → rename; single-writer contract,
    same model as merge_upsert_parquet). Returns the output file count.

    Scale notes: this is the parquet twin of Delta's OPTIMIZE /
    bin-packing; on object stores the swap becomes a manifest commit
    (Delta/Iceberg) because rename is not atomic there — with delta-spark
    on the classpath prefer ``DeltaTable.optimize()``. Coalesce (not
    repartition) keeps compaction shuffle-free; if downstream needs
    clustering by key, that's a layout decision for repartitionByRange at
    WRITE time, not for the compactor."""
    # Refuse Hive-partitioned layouts: reading key=value subdirs folds the
    # partition column into the data and the rewrite would FLATTEN the
    # layout, silently breaking directory pruning for every consumer.
    # Compact those per-partition (or via Delta OPTIMIZE, which is
    # layout-aware).
    part_dirs = [
        d
        for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    ]
    if part_dirs:
        raise ValueError(
            f"compact_parquet_dir: {path} is Hive-partitioned "
            f"({part_dirs[:3]}...); compact each partition directory "
            "instead — a flat rewrite would destroy the partitioning"
        )
    df = spark.read.parquet(path)
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total_bytes // target_file_bytes))
    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    df.coalesce(n_files).write.parquet(tmp)
    _swap_dir(tmp, path)
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
