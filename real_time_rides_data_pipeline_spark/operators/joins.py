"""Batch join operators (SURVEY.md §2.3 extensions).

The reference has no table-table joins (its only join-like op is the Delta
MERGE, operators/merge.py); these make the engine a credible analytics layer
over star-schema data.

Scale strategy: dimensions (region/nation, and customer at most SFs) go
broadcast — no shuffle of the fact side; fact⋈fact (lineitem⋈orders) is a
sort-merge/shuffled-hash join on the key, which AQE converts or skew-splits at
runtime. Pre-bucketing both facts on the join key removes the shuffle
entirely (q_bucketed_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Rough row-count threshold under which we force a broadcast hint. Spark's
#: autoBroadcastJoinThreshold is byte-based; a hint is deterministic.
BROADCAST_HINT_MAX_ROWS = 10_000_000


def join_fact_dim(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Fact⋈dimension equi-join, broadcasting the dim side.

    Broadcast replicates the dim to every executor — zero shuffle of the
    (huge) fact side; correct call whenever the dim fits in executor memory.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_join(fact: DataFrame, other: DataFrame, on) -> DataFrame:
    """EXISTS filtering (left_semi): keeps fact columns only, never
    duplicates fact rows on multi-matches — cheaper than inner+distinct."""
    return fact.join(other, on, "left_semi")


def anti_join(fact: DataFrame, other: DataFrame, on) -> DataFrame:
    """NOT EXISTS filtering (left_anti)."""
    return fact.join(other, on, "left_anti")


def star_join(fact: DataFrame, dims: list[tuple[DataFrame, object]]) -> DataFrame:
    """Chain fact → dim1 → dim2 → …, broadcasting every dim. One scan of the
    fact, zero shuffles when all dims broadcast (the classic star-schema plan).
    """
    out = fact
    for dim, on in dims:
        out = out.join(F.broadcast(dim), on, "inner")
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    salt_src: str | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side, replicate the dim side.

    A power-law key (one user produces 10% of all events) sends 10% of the
    shuffle to a single reducer. Salting splits each fact key into
    ``n_salts`` sub-keys — fact rows get ``salt = hash % n_salts`` (here a
    deterministic column-derived salt so replays/oracles are stable; use
    ``F.rand()`` when determinism doesn't matter), and the dim side is
    exploded ×``n_salts`` so every sub-key still finds its match. The join
    output is exactly the unsalted join; the shuffle is ``n_salts``×
    better balanced at the cost of a ``n_salts``× bigger (usually tiny) dim.

    Spark's AQE skew-join handles *sort-merge* skew automatically at
    runtime; explicit salting remains the tool for skewed *hash* shuffles,
    streaming state, and engines/configs where AQE can't see the skew.

    ``salt_src`` must vary WITHIN a join key (a row-unique column such as an
    event id) — a salt derived from the join key itself is constant per key
    and spreads nothing. With ``salt_src=None`` the salt hashes every fact
    column whose type is hashable by ``xxhash64`` — everything except
    MapType (rejected outright without a legacy conf), including arrays and
    structs, which may be the only row-varying columns a fact has. If the
    only hashable column is the join key itself, the salt would be
    per-key-constant and the call fails loudly instead of silently
    re-creating the skew.
    """
    if salt_src == fact_key:
        raise ValueError(
            "salt_src must differ from fact_key: a salt that is a function of "
            "the join key gives every row of a hot key the same salt"
        )

    def contains_map(dt: T.DataType) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return contains_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(contains_map(f.dataType) for f in dt.fields)
        return False

    if salt_src:
        salt_cols = [F.col(salt_src)]
    else:
        hashable = [
            f.name for f in fact.schema.fields if not contains_map(f.dataType)
        ]
        if not hashable or hashable == [fact_key]:
            raise ValueError(
                "salt_src=None found no row-varying hashable fact column "
                "(xxhash64 cannot hash MapType): pass an explicit salt_src"
            )
        salt_cols = [F.col(c) for c in hashable]
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(n_salts)).cast("int")
    salted_fact = fact.withColumn("__salt", salt)
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_fact.join(
        salted_dim,
        (F.col(fact_key) == F.col(dim_key)) & (salted_fact["__salt"] == salted_dim["__salt"]),
        "inner",
    )
    return joined.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: str,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of join: attach to every left row the latest ``payload`` from
    ``right`` with ``right_ts <= left_ts`` for the same key (NULL if none).
    With ``tolerance_seconds``, a quote older than the tolerance yields
    NULL instead (pandas ``merge_asof(tolerance=...)`` semantics — stale
    quotes must not silently apply in financial/telemetry joins).

    Spark has no ASOF JOIN operator; a theta join (``r.ts <= l.ts`` + argmax)
    explodes quadratically per key. The scalable formulation is union-window:
    tag both sides, union, and run ``last(payload, ignorenulls=True)`` over
    (key ORDER BY ts, side) — right rows sort before left rows at equal
    timestamps, so an exactly-simultaneous quote applies. ONE shuffle on the
    key, state bounded by a single row per partition frame, no join blow-up
    — this is also exactly how the streaming version holds its state.

    ``right`` must be unique per (key, right_ts) for determinism (dedup
    upstream with keep_first_per_key).

    The carried value is wrapped in a non-null struct so a right row whose
    payload is genuinely NULL still WINS the as-of match (yielding NULL),
    instead of being skipped for an older non-null quote — matching
    ASOF JOIN semantics exactly.
    """
    left_types = dict(left.dtypes)
    right_types = dict(right.dtypes)
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("__t"),
        F.struct(
            F.col(right_ts).alias("t"), F.col(payload).alias("v")
        ).alias("__p"),
        F.lit(0).alias("__side"),
    )
    for c in left.columns:
        if c != key:
            r = r.withColumn(c, F.lit(None).cast(left_types[c]))
    null_payload = F.lit(None).cast(
        f"struct<t:{right_types[right_ts]},v:{right_types[payload]}>"
    )
    l = (
        left.withColumn("__t", F.col(left_ts))
        .withColumn("__p", null_payload)
        .withColumn("__side", F.lit(1))
    )
    u = l.unionByName(r.select(*l.columns))
    w = (
        Window.partitionBy(key)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("__p", ignorenulls=True).over(w)
    value = carried["v"]
    if tolerance_seconds is not None:
        # carried quote applies only within the tolerance window; the
        # struct carries the quote's OWN timestamp so staleness is exact
        fresh = F.unix_micros(F.col("__t")) - F.unix_micros(carried["t"]) <= (
            int(tolerance_seconds) * 1_000_000
        )
        value = F.when(fresh, value)
    return (
        u.withColumn(payload, value)
        .filter(F.col("__side") == 1)
        .drop("__t", "__p", "__side")
    )


def bucketed_range_join(
    intervals: DataFrame,
    points: DataFrame,
    key: str,
    start_col: str,
    point_ts: str,
    length_seconds: int,
) -> DataFrame:
    """Range join (point-in-interval): pair every ``points`` row whose
    ``point_ts`` falls in ``[start, start + length)`` of an ``intervals`` row
    with the same key.

    A naive range-predicate join is a per-key nested loop (O(|I|·|P|)). The
    scale path buckets time into ``length_seconds`` cells: an interval of
    exactly that length overlaps at most 2 cells, so each interval row is
    duplicated ≤2× (explode), points map to their single cell, and the join
    becomes an EQUI-join on (key, cell) + a residual range filter — hash
    shuffle, AQE-optimizable, no nested loop at any scale.

    Non-key column names of the two inputs must be disjoint (the join is a
    natural join on (cell, key)).
    """
    cell_us = length_seconds * 1_000_000
    base_cell = F.floor(F.unix_micros(F.col(start_col)) / cell_us).cast("long")
    i_cells = intervals.withColumn(
        "__cell", F.explode(F.array(base_cell, base_cell + 1))
    )
    p_cells = points.withColumn(
        "__cell", F.floor(F.unix_micros(F.col(point_ts)) / cell_us).cast("long")
    )
    end = F.col(start_col) + F.make_interval(secs=F.lit(length_seconds))
    joined = i_cells.join(p_cells, ["__cell", key]).filter(
        (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) < end)
    )
    return joined.drop("__cell")


def bucketed_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int,
) -> DataFrame:
    """Interval-OVERLAP join: pair every ``left`` row with every ``right``
    row whose half-open time intervals ``[l_start, l_end)`` and
    ``[r_start, r_end)`` intersect.

    The naive formulation is a pure theta-join (BroadcastNestedLoopJoin or
    worse, a cartesian product) — O(|L|·|R|) at any scale. The scale path
    buckets absolute time into ``bucket_seconds`` cells and EXPLODES each
    interval to the cells it covers, turning overlap into an equi-join on
    the cell id plus a residual overlap filter. Two overlapping intervals
    always share at least one covered cell (the overlap region is
    non-empty), so recall is exact.

    Duplicate suppression is join-side, not a post-distinct: a pair that
    shares k cells would match k times, so the join keeps only the
    CANONICAL cell ``max(first_cell(l), first_cell(r))`` — the first cell
    where both intervals are present. Every overlapping pair matches in
    exactly that one cell, which removes the extra dedup shuffle entirely.

    Rows with empty intervals (start >= end) are dropped on both sides:
    they can overlap nothing, and pre-filtering keeps ``sequence`` from
    generating a DESCENDING cell range (Spark steps -1 when stop < start).

    Choose ``bucket_seconds`` at or above the typical interval length: the
    explode factor is ceil(interval / bucket) + 1, so a too-fine bucket
    multiplies the shuffle volume. Column names of the two inputs must be
    disjoint.
    """
    cell_us = bucket_seconds * 1_000_000

    def first_last(s: str, e: str):
        cs = F.floor(F.unix_micros(F.col(s)) / cell_us).cast("long")
        # end-exclusive: [s, e) covers cells floor(s/B) .. floor((e-1us)/B)
        ce = F.floor((F.unix_micros(F.col(e)) - 1) / cell_us).cast("long")
        return cs, ce

    lcs, lce = first_last(l_start, l_end)
    l2 = (
        left.filter(F.col(l_start) < F.col(l_end))
        .withColumn("__lc0", lcs)
        .withColumn("__cell", F.explode(F.sequence(lcs, lce)))
    )
    rcs, rce = first_last(r_start, r_end)
    r2 = (
        right.filter(F.col(r_start) < F.col(r_end))
        .withColumn("__rc0", rcs)
        .withColumn("__cell", F.explode(F.sequence(rcs, rce)))
    )
    overlap = (F.col(l_start) < F.col(r_end)) & (F.col(r_start) < F.col(l_end))
    canonical = F.col("__cell") == F.greatest(F.col("__lc0"), F.col("__rc0"))
    return (
        l2.join(r2, "__cell")
        .filter(overlap & canonical)
        .drop("__cell", "__lc0", "__rc0")
    )
