"""Connected components — the pair→cluster step of a dedup pipeline.

Near-dup detection (operators/textdedup.py, operators/similarity.py) emits
PAIRS; production dedup needs CLUSTERS: transitive closure over the pair
graph, then one representative elected per cluster (keep it, drop the
rest). The reference has no graph surface at all — this is part of the
LLM-data-pipeline extension mandate (SURVEY.md §2.9).

Two algorithms behind one API, selected by ``algorithm=``:

- ``"star"`` (default) — alternating large-star/small-star (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
  iteration is two grouped edge rewrites (one hash shuffle each) and
  converges in O(log diameter) iterations, so a pair graph with an
  adversarially deep component still finishes in a handful of rounds.
  Driver sync per iteration is ONE constant-size aggregate (edge count +
  XOR hash signature) used purely for iteration control; a definitive
  endpoint-label consistency check runs once at the end, so a (vanishingly
  unlikely) signature collision fails loudly instead of returning wrong
  labels.
- ``"labelprop"`` — min-label propagation, one hash join per round,
  O(component diameter) rounds. Kept as the simple reference
  implementation and cross-checked against ``"star"`` in the property
  tests; fine for shallow near-dup graphs (stars/short chains), not for
  deep chains.

Both truncate lineage per iteration with ``localCheckpoint`` (iterative
plans otherwise grow unboundedly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.session import narrow_loop_session


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
    algorithm: str = "star",
    assume_distinct_edges: bool = False,
) -> DataFrame:
    """Label every vertex with the MINIMUM vertex id reachable from it
    over the ``(src, dst)`` edges (undirected): output columns ``(id,
    component)``. Deterministic —
    the representative of each cluster is its smallest id.

    ``assume_distinct_edges=True`` skips the defensive ``distinct()`` on
    the input edge set — one full edge shuffle saved — and is ONLY legal
    when the caller proves uniqueness (e.g. a pair join emitting each
    (a, b) exactly once). Correctness is belt-and-braces anyway: the
    final labels come from a groupBy-min and the definitive gate checks
    every original edge, so a violated promise surfaces as a loud gate
    failure, never a wrong answer.
    """
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if algorithm == "star":
        labels = _cc_star(e, max_iter, assume_distinct=assume_distinct_edges)
    elif algorithm == "labelprop":
        labels = _cc_labelprop(e, max_iter)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}: star | labelprop")
    # Key the output to the DECLARED vertex set: ids appearing only in edges
    # are dropped, vertices untouched by any edge label themselves. (The
    # component label itself is just an identifier — it may be an edge-only
    # id if that id is the minimum of its component.)
    all_ids = vertices.select(F.col(id_col).alias("id"))
    return all_ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u over the SYMMETRIC neighborhood, connect every
    strictly-larger neighbor to m = min(N(u) ∪ {u}). Emitted edges stay
    within u's component (m and the neighbors are all reachable from u).

    Deliberately NOT deduplicated here: the only consumer is
    ``_small_star``, whose first operator is a distinct over the oriented
    (greatest, least) form — a superset of this dedup (orientation maps
    both (a,b) and (b,a) to one row). Fusing the two distincts saves one
    full shuffle of the edge set per iteration at every scale; distinct's
    map-side partial aggregation still collapses duplicates early."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.filter(F.col("u") != F.col("v"))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient every edge (larger → smaller); for each node u, connect u and
    all its smaller neighbors to m = min neighbor. Output edges all point
    child → smaller parent, so a fixed point is a union of min-rooted
    stars."""
    oriented = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        oriented.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select(F.col("u"), F.col("m").alias("v"))
    return rewired.unionAll(self_edge).distinct()


def _signature(e: DataFrame) -> tuple[int, int]:
    """(count, xor-of-xxhash64) — an order-independent constant-size edge-set
    fingerprint for iteration control. bit_xor never overflows (no ANSI
    hazard) and duplicate cancellation can't bite: inputs are distinct."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).first()
    return (row["n"], row["h"] if row["h"] is not None else 0)


def _cc_star(
    e: DataFrame, max_iter: int, assume_distinct: bool = False
) -> DataFrame:
    edges = e.filter(F.col("u") != F.col("v"))
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    # ONE aggregate doubles as the emptiness check (n == 0) and the
    # iteration-control baseline — the separate isEmpty() action was a
    # second driver round-trip over the same materialized rows.
    sig = _signature(edges)
    if sig[0] == 0:
        return edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    # Small graphs iterate in a narrow session clone: each star round's
    # per-query-stage latency dominates when the graph is tiny — measured
    # ~0.6 s/round on a 920-edge graph at width 32 vs ~0.45 s at width 1
    # with AQE off.
    edges, parent, rebind = narrow_loop_session(edges, sig[0])
    orig = edges  # checkpointed — reused by the final consistency gate
    converged = False
    for _ in range(max_iter):
        # One alternating star round per driver sync (batching rounds per
        # sync and skipping early syncs both measured as losses: a sync is
        # one small aggregate job, a redundant no-op round is a full
        # rewrite). EVERY round is individually localCheckpoint'd (lazy):
        # each star rewrite references its input from MULTIPLE subtrees
        # (sym twice in large-star, oriented three times in small-star),
        # so an uncheckpointed round is recomputed several times inside
        # the next round's DAG — measured as a 2x regression when the
        # intermediate checkpoint was dropped. The signature aggregate
        # below materializes the round in one job cascade.
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig = _signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    # Fixed point = min-rooted stars: every (u, v) edge is (child, root).
    # groupBy-min collapses any duplicate child rows so the vertex join
    # can't fan out even if convergence was misjudged.
    labels = edges.groupBy("u").agg(F.min("v").alias("component"))
    roots = labels.select(F.col("component").alias("u"), F.col("component"))
    labels = labels.unionAll(roots).groupBy("u").agg(
        F.min("component").alias("component")
    ).select(F.col("u").alias("id"), "component")
    # Definitive gate, independent of the hash signature: every ORIGINAL
    # edge must connect same-labeled endpoints. Both rewrites only ever
    # emit intra-component edges, so labels can't over-merge — consistency
    # here proves the labeling exactly.
    la = labels.select(F.col("id").alias("u"), F.col("component").alias("ca"))
    lb = labels.select(F.col("id").alias("v"), F.col("component").alias("cb"))
    bad = (
        orig
        .join(la, "u", "left")
        .join(lb, "v", "left")
        .filter(
            (F.col("ca") != F.col("cb")) | F.col("ca").isNull() | F.col("cb").isNull()
        )
        .count()
    )
    if bad != 0 or not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} iterations "
            f"({bad} original edges still cross labels): raise max_iter"
        )
    if orig.sparkSession is not parent:
        # Hand the result back to the caller's session so the final vertex
        # join plans under the caller's (scale-appropriate) configuration.
        labels = rebind(labels.localCheckpoint(eager=False), parent)
    return labels


def _cc_labelprop(e: DataFrame, max_iter: int) -> DataFrame:
    # Materialize the symmetric edge list ONCE: it is re-read every round,
    # and without truncation the (possibly expensive) upstream
    # edge-generation DAG — shingling, candidate joins — would recompute
    # per iteration.
    sym = (
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    # Isolated vertices are trivially their own component — iterate only
    # over vertices that appear in an edge (typically a small fraction of a
    # dedup corpus); the caller unions the rest back.
    labels = (
        sym.select(F.col("u").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        # One checkpointed pass carries (prev, new) so the convergence
        # check is a filter over the materialized rows, not another join.
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
            )
            # lazy: the convergence count below materializes it — one
            # driver round-trip per round instead of two
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(F.col("component") < F.col("prev")).count()
        labels = updated.select("id", "component")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): the graph has a component "
            "deeper than max_iter — raise max_iter or use algorithm='star'"
        )
    return labels


def pagerank_int(edges: DataFrame, scale: int = 10**12) -> DataFrame:
    """3-iteration PageRank, damping 85 %, with EXACT integer arithmetic.

    ``edges`` is a directed edge list with columns (src, dst); every node
    is assumed to have out-degree >= 1 (symmetrize first if not — a
    dangling node would leak rank mass). Ranks are scaled integers
    (initial rank = ``scale``), per-edge contribution is ``rank div
    out_degree`` and the update is

        r' = scale*(100-85) div 100  +  85 * sum(contrib) div 100

    — floor division on non-negative int64 at every step, so the result is
    bit-identical on ANY engine and ANY partitioning/summation order
    (float PageRank is not reproducible across engines: the neighbor sum
    is order-dependent). SURVEY §7.4 determinism rules.

    Scale design: the iteration is join(edges, ranks) on src — a hash
    shuffle of the edge list per round — followed by a map-side-combined
    sum per dst. The edge+degree table is localCheckpoint'd lazily so its
    scan/distinct lineage runs once, not once per iteration. int64
    headroom: sum(contrib) over a node's in-edges is bounded by total rank
    mass ≈ |V|·scale, so 85·|V|·scale must stay < 2^63 — at
    scale=1e12 that is |V| < ~10^5; lower ``scale`` for larger graphs.
    """
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
    # Hash-partition the edge table on the join key BEFORE checkpointing:
    # LogicalRDD preserves outputPartitioning, so every iteration's
    # join(ranks, src == node) reuses the edge-side layout and only the
    # (much smaller) rank table shuffles — 2 exchanges per round instead
    # of 3, and the big shuffle happens exactly once for any iteration
    # count.
    ed = e.join(deg, "src").repartition(F.col("src")).localCheckpoint(
        eager=False
    )
    nodes = ed.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    damping_pct = 85
    base = scale * (100 - damping_pct) // 100
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    for _ in range(3):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), F.expr("r div __d").alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__c"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"{damping_pct} * coalesce(__c, 0L) div 100")
            ).cast("long").alias("r"),
        )
    return ranks
