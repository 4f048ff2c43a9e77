"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and IVF-bucketed ANN (the scale path). SURVEY.md §2.9.

Scale design: brute force is one scan + TakeOrderedAndProject (per-partition
heap, no global sort) — right answer for one-off queries. For repeated
queries, IVF partition-prunes: vectors are assigned to their
nearest centroid at write time (cluster_id becomes a partition column), and
a probe only scans the ``n_probe`` closest clusters — the classic
inverted-file trade of recall for scan fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.functions.vectors import (
    as_double,
    cosine,
    cosine_rounded,
    dot,
    mat_lit,
    vec_lit,
)

#: The id and vector columns of an embeddings frame.
ID_COL = "vec_id"
VEC_COL = "embedding"

#: Width of the embeddings the hyperplane LSH family spans.
LSH_DIM = 64


def brute_force_topk(
    vectors: DataFrame, query_vec: list[float], k: int = 100
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. The query vector is
    folded into the plan as ONE constant-folded array literal (vec_lit —
    broadcast-free, py4j-cheap); ORDER BY+LIMIT plans
    TakeOrderedAndProject. Ties broken by id for determinism."""
    q = vec_lit(query_vec)
    sim = cosine_rounded(as_double(F.col(VEC_COL)), q).alias("cosine_sim")
    return (
        vectors.select(F.col(ID_COL), sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(ID_COL))
        .limit(k)
    )


def fit_centroids_kmeans(
    vectors: DataFrame,
    k: int = 8,
    sample_n: int = 1024,
    seed: int = 42,
) -> list[list[float]]:
    """Sampled spherical k-means fit — the real centroid source for IVF.

    Deterministic by construction: the sample is the first ``sample_n``
    vectors by id (orderBy + limit — no RNG in the scan), init is a seeded
    choice from that sample, and 5 Lloyd iterations run in numpy on the
    driver. The collect is bounded (sample_n × dim doubles, ~1 MB at
    defaults) — fitting on a sample driver-side then broadcasting the
    centroids into the assignment plan is the standard shape at any scale;
    a distributed fit (e.g. MLlib KMeans) swaps in behind the same return
    type when the sample must be larger than driver memory.

    Centroids are unit-normalized and updated on the sphere (normalize →
    mean → renormalize), matching the cosine metric the assignment uses.
    Empty clusters keep their previous centroid.
    """
    import warnings

    import numpy as np

    rows = vectors.orderBy(ID_COL).limit(sample_n).select(VEC_COL).collect()
    if not rows:
        raise ValueError(
            "fit_centroids_kmeans: the vectors frame is empty — cannot fit "
            "centroids (callers index centroids positionally)"
        )
    if len(rows) < k:
        warnings.warn(
            f"fit_centroids_kmeans: sample has {len(rows)} rows < k={k}; "
            f"returning {len(rows)} centroids",
            stacklevel=2,
        )
    X = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(5):
        assign = (X @ cents.T).argmax(axis=1)
        updated = []
        for j in range(len(cents)):
            members = X[assign == j]
            if len(members) == 0:
                updated.append(cents[j])
                continue
            m = members.mean(axis=0)
            norm = np.linalg.norm(m)
            updated.append(m / norm if norm > 1e-12 else cents[j])
        cents = np.array(updated)
    return [[float(x) for x in c] for c in cents]


def assign_ivf_cluster(vectors: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its max-cosine centroid, as ``cluster_id``.
    Centroids are plan literals: at real scale they come from a sampled
    k-means fit, then this column becomes the partition key of the written
    table.

    The argmax is ``array_position(sims, array_max(sims))`` over an array of
    the K similarities — each similarity is evaluated exactly once. (A
    chained ``when(sim_i > best, …)`` fold re-references every prior sim in
    both branches, and the expression tree grows exponentially in K — the
    first version was ~50× slower purely from codegen size.) Ties pick the
    lowest centroid id (array_position returns the first match). The K
    per-centroid similarities are ONE transform over the constant-folded
    centroid matrix (mat_lit) — K duplicated 64-Literal cosine subtrees
    made plan construction the dominant cost (profiled on q_ann_recall)."""
    v = as_double(F.col(VEC_COL))
    sims = F.transform(
        mat_lit(centroids), lambda c: cosine_rounded(v, c, 9)
    )
    return vectors.withColumn("__sims", sims).withColumn(
        "cluster_id",
        (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1).cast(
            "int"
        ),
    ).drop("__sims")


def ivf_topk(
    vectors: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN: score centroids against the query driver-side (tiny, pure
    Python arithmetic), scan only the ``n_probe`` best clusters, exact top-10
    within them. Recall < 1 by construction; scan fraction ≈ n_probe/K."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query_vec))
    probe = ranked[:n_probe]
    assigned = assign_ivf_cluster(vectors, centroids)
    pruned = assigned.filter(F.col("cluster_id").isin(probe))
    return brute_force_topk(pruned, query_vec, 10)


def cosine_pairs_above(vectors: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold — brute-force reference implementation.

    Kept as the test oracle for ``cluster_pruned_pairs_above`` (the scale
    path); do NOT use this on large inputs — the join is a nested loop over
    N²/2 pairs."""
    lhs = vectors.select(
        F.col(ID_COL).alias("id_a"), as_double(F.col(VEC_COL)).alias("va")
    )
    rhs = vectors.select(
        F.col(ID_COL).alias("id_b"), as_double(F.col(VEC_COL)).alias("vb")
    )
    return (
        lhs.join(rhs, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine_rounded(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cluster_pruned_pairs_above(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float,
) -> DataFrame:
    """EXACT cosine-threshold self-join with angular cluster pruning — the
    scale path for embedding near-dup (replaces the all-pairs nested loop).

    Pipeline: (1) assign every vector to its max-cosine centroid (one scan);
    (2) compute each cluster's angular radius r_k = max angle(v, c_k)
    distributed, collect K scalars; (3) driver-side, keep only the ordered
    cluster pairs (i, j) whose spherical-triangle-inequality bound admits a
    qualifying pair:  angle(a, b) >= angle(c_i, c_j) - r_i - r_j,  so
    cos(a, b) <= cos(max(0, theta_ij - r_i - r_j)) — if that bound is below
    the threshold, NO pair across (i, j) can qualify and the block is pruned
    without reading a single vector pair; (4) equi-join the surviving cluster
    blocks (broadcast the tiny admissible-pairs table, salt the block key 8
    ways so K small clusters still spread across the cluster), (5) exact-verify
    cosine on the candidates only.

    Soundness: step (3) is a proven upper bound, so the output is IDENTICAL
    to the all-pairs join at any threshold — pruning only removes blocks that
    cannot contain a qualifying pair. On clustered corpora (near-dup
    embeddings huddle) most of the K² blocks are pruned; on
    adversarially uniform vectors it degrades to the same candidate set as
    all-pairs but still swaps the nested loop for a salted hash join.

    Driver-side actions: K radius scalars (like the centroid fetch in
    ``ivf_topk``) — constant-size, folded into the plan.
    """
    import math

    def _pycos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    def _clamp(x: float) -> float:
        return max(-1.0, min(1.0, x))

    base = vectors.select(
        F.col(ID_COL).alias("__id"), as_double(F.col(VEC_COL)).alias("__v")
    )
    sims = F.transform(
        mat_lit(centroids), lambda c: cosine(F.col("__v"), c)
    )
    base = (
        base.withColumn("__sims", sims)
        .withColumn(
            "cluster_id",
            (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1).cast(
                "int"
            ),
        )
        .withColumn("__own_cos", F.array_max(F.col("__sims")))
        .drop("__sims")
    )
    # Materialize once: reused by the radius agg and BOTH join sides (else
    # the K-cosine assignment re-evaluates three times).
    base = base.localCheckpoint(eager=True)

    radius = {
        r["cluster_id"]: math.acos(_clamp(r["mn"]))
        for r in base.groupBy("cluster_id").agg(F.min("__own_cos").alias("mn")).collect()
        if r["cluster_id"] is not None
    }
    eps = 1e-9
    admissible = []
    for i in radius:
        for j in radius:
            theta = math.acos(_clamp(_pycos(centroids[i], centroids[j])))
            bound = math.cos(max(0.0, theta - radius[i] - radius[j]))
            if bound >= threshold - eps:
                admissible.append((i, j))
    spark = vectors.sparkSession
    pairs = spark.createDataFrame(admissible or [(-1, -1)], "ca int, cb int")

    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("cluster_id").alias("ca"),
        F.col("__v").alias("va"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("cluster_id").alias("cb"),
        F.col("__v").alias("vb"),
    )
    # Salt the block key: |clusters| is small (K), so an unsalted equi-join
    # would hash-partition onto at most K reducers. The probe side derives
    # its salt from a row-unique column; the build side fans out over all
    # salts (standard skew-salting, cf. operators/joins.salted_join).
    n_salt = 8
    a_x = (
        a.join(F.broadcast(pairs), "ca")
        .withColumn(
            "__salt", F.explode(F.array(*[F.lit(s) for s in range(n_salt)]))
        )
    )
    b_s = b.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("id_b")), F.lit(n_salt)).cast("int")
    )
    cand = a_x.join(b_s, ["cb", "__salt"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn("cosine_sim", cosine_rounded(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def hyperplane_planes(n_planes: int = 16) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane family for cosine LSH — NO RNG:
    sign(j, d) is the top bit of a Knuth multiplicative hash of the flat
    (plane, d) index over ``LSH_DIM`` dimensions. The top bit of
    w·2654435761 mod 2³² is well-mixed (naive parities of linear forms
    produce colliding/degenerate planes — pinned by a distinctness test).
    The same function generates the oracle's literal, so signatures are
    reproducible across engines, reruns, and backfills — the property
    that makes LSH bucket assignment a JOIN KEY rather than a session
    artifact."""
    return [
        [
            1.0
            if (((j * LSH_DIM + d + 1) * 2654435761) % 2**32) >> 31
            else -1.0
            for d in range(LSH_DIM)
        ]
        for j in range(n_planes)
    ]


def hyperplane_lsh_pairs_above(vectors: DataFrame, threshold: float) -> DataFrame:
    """Cosine LSH near-dup: random-hyperplane signatures (SimHash for
    embeddings, Charikar 2002), banded like MinHash — candidates collide on
    at least one band of sign bits, then EXACT cosine ≥ threshold verifies.

    Approximate by design (recall < 1: a near pair whose signs differ in
    every band is missed); the verified candidates are a deterministic
    subset of ``cosine_pairs_above``. Scale shape: signature is a narrow
    map (16 plane dots per row, in 2 bands of 8 bits); candidate
    generation is a self-equi-join on (band_idx, band_bucket) — never
    all-pairs; the O(dim) exact cosine runs only on collided pairs.
    Complements IVF (``ivf_topk``): LSH needs no fitted model, IVF needs
    no bit budget.

    Embeddings must be ``LSH_DIM`` wide: zip_with pads the short side
    with NULLs, which would silently null the dot product — so the plan
    raises on any row whose vector length ≠ ``LSH_DIM``."""
    n_planes, n_bands = 16, 2
    planes = hyperplane_planes(n_planes)
    per_band = n_planes // n_bands
    v = as_double(F.col(VEC_COL))
    checked = F.when(F.size(v) == LSH_DIM, v).otherwise(
        F.raise_error(
            F.lit(f"hyperplane_lsh_pairs_above: embedding length != {LSH_DIM}")
        ).cast("array<double>")
    )
    base = vectors.select(F.col(ID_COL).alias("id"), checked.alias("v"))
    # One sign bit per plane as ONE transform over the constant-folded
    # plane matrix (mat_lit): the previous n_planes duplicated 64-Literal
    # dot subtrees paid n_planes×LSH_DIM py4j calls at plan-build time.
    bits_arr = F.transform(
        mat_lit(planes), lambda p: (dot(F.col("v"), p) >= 0).cast("int")
    )
    pow2 = F.expr(
        f"transform(sequence(0, {per_band - 1}), "
        "j -> shiftleft(1, cast(j as int)))"
    )
    bands = []
    for b in range(n_bands):
        band_bits = F.slice(bits_arr, b * per_band + 1, per_band)
        bucket = F.aggregate(
            F.zip_with(band_bits, pow2, lambda x, w: x * w),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        bands.append(
            F.struct(F.lit(b).alias("band_idx"), bucket.alias("bucket"))
        )
    # Materialized before the band self-join: both branches would
    # otherwise re-run the scan + n_planes dot products per row (the
    # minhash_near_duplicates signature-checkpoint rationale).
    sig = base.select(
        "id", "v", F.explode(F.array(*bands)).alias("bb")
    ).select("id", "v", "bb.band_idx", "bb.bucket").localCheckpoint(
        eager=False
    )
    lhs = sig.select(
        "band_idx", "bucket", F.col("id").alias("id_a"), F.col("v").alias("va")
    )
    rhs = sig.select(
        "band_idx", "bucket", F.col("id").alias("id_b"), F.col("v").alias("vb")
    )
    cand = (
        lhs.join(rhs, ["band_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair colliding in BOTH bands appears twice; rows are identical
        # (va/vb are functions of the ids), so id-level dedup is exact
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cosine_sim", cosine_rounded(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )
