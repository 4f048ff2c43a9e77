"""Property-based tests (hypothesis) for the operators whose correctness
arguments are algebraic rather than example-driven: connected components vs
a reference union-find, the as-of join vs per-row brute force, and the
bounded-intermediate modular hash identity at extreme key magnitudes.

Spark round-trips are slow, so examples are capped small; the point is
randomized structural coverage, not volume."""

from __future__ import annotations

import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

#: PROP_EXAMPLES=50 python -m pytest tests/test_properties.py  → deep run
SETTINGS = dict(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "5")), deadline=None
)


def _union_find(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min vertex id per component
    comp_min: dict[int, int] = {}
    for v in range(n):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n)}


@settings(**SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=12),
    edge_idx=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=14
    ),
)
def test_connected_components_matches_union_find(spark, n, edge_idx):
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    edges = [(a % n, b % n) for a, b in edge_idx if a % n != b % n]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    expected = _union_find(n, edges)
    for algorithm in ("star", "labelprop"):
        got = {
            r.id: r.component
            for r in connected_components(
                vertices, edf, max_iter=30, algorithm=algorithm
            ).collect()
        }
        assert got == expected, algorithm


def test_connected_components_star_converges_on_deep_chain(spark):
    """A 60-edge path graph has diameter 60: label propagation needs ~60
    rounds (loud-fails at max_iter=15), the large-star/small-star
    alternation converges in O(log diameter) — well inside 15."""
    import pytest

    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(61)], "id long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    got = {
        r.id: r.component
        for r in connected_components(vertices, edf, max_iter=15).collect()
    }
    assert got == {i: 0 for i in range(61)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            vertices, edf, max_iter=15, algorithm="labelprop"
        ).collect()


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1,
        max_size=8,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(0, 99)),
        max_size=8,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
def test_asof_join_matches_brute_force(spark, lefts, rights):
    """asof_join(left, right) == per-row argmax of right_ts <= left_ts."""
    from real_time_rides_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, key long, lts long",
    ).select("lid", "key", F.timestamp_micros(F.col("lts") * 1000000).alias("lts"))
    right = spark.createDataFrame(
        rights or [(99, -1, 0)], "key long, rts long, payload long"
    ).select("key", F.timestamp_micros(F.col("rts") * 1000000).alias("rts"), "payload")
    out = {
        r.lid: r.payload
        for r in asof_join(
            left, right, key="key", left_ts="lts", right_ts="rts", payload="payload"
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, p) for rk, rt, p in (rights or [(99, -1, 0)]) if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert out[i] == want, (i, k, t, cands, out)


@settings(**SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=6
    )
)
def test_modular_hash_identity_never_overflows(spark, keys):
    """The bounded-intermediate form ((k mod m)(K mod m)) mod m must equal
    Python's arbitrary-precision (k*K) mod m even for keys near int64 max,
    where the naive int64 multiply would wrap."""
    from real_time_rides_data_pipeline_spark.operators.clean import (
        KNUTH_MULT,
        pseudo_distance_modular,
    )

    df = spark.createDataFrame([(k,) for k in keys], "key long")
    got = {
        r.key: r.d
        for r in df.select(
            "key", pseudo_distance_modular(F.col("key")).alias("d")
        ).collect()
    }
    for k in keys:
        want = round(((k * KNUTH_MULT) % 2000) / 100.0, 2)
        assert abs(got[k] - want) < 1e-9, (k, got[k], want)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),                      # group key
            st.integers(-(10**6), 10**6),           # cents value
            st.sampled_from(["a", "b", "c"]),       # secondary dim
        ),
        min_size=1,
        max_size=40,
    )
)
def test_salted_agg_equals_plain_agg(spark, rows):
    """The salt must be semantically invisible: two-phase (key, salt) →
    key aggregation equals the direct groupBy for any data, including
    negative values and singleton/hot keys."""
    df = spark.createDataFrame(
        [(k, v, s) for k, v, s in rows], "k long, c long, s string"
    )
    salted = (
        df.withColumn("__salt", F.pmod(F.col("c"), F.lit(4)))
        .groupBy("k", "__salt")
        .agg(F.sum("c").alias("__s"), F.count(F.lit(1)).alias("__n"))
        .groupBy("k")
        .agg(F.sum("__s").alias("total"), F.sum("__n").alias("n"))
    )
    plain = df.groupBy("k").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10**7),                  # seconds offset
            st.integers(-(10**4), 10**4),           # cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_rollup_reagg_mergeability(spark, rows):
    """sum/count carried at minute grain re-aggregate to hour grain
    identically to aggregating raw rows — the contract that makes rollup
    pyramids valid at any grain pair."""
    df = spark.createDataFrame(
        [(F_ts, c) for F_ts, c in rows], "sec long, c long"
    ).select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "c"
    )
    minute = df.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    via_minute = minute.groupBy(F.date_trunc("hour", "m").alias("h")).agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    )
    direct = df.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, via_minute.collect())) == sorted(
        map(tuple, direct.collect())
    )


@settings(**SETTINGS)
@given(
    seeds=st.lists(st.integers(0, 2**31 - 1), min_size=2, max_size=5),
    dup_idx=st.integers(0, 4),
)
def test_lsh_always_recalls_exact_duplicate_vectors(spark, seeds, dup_idx):
    """An exact-duplicate embedding pair has identical sign signatures in
    EVERY band, so hyperplane LSH must always recall it (recall loss only
    applies to near-but-not-identical pairs)."""
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        hyperplane_lsh_pairs_above,
    )

    def vec(seed: int) -> list[float]:
        # deterministic non-zero vector from the seed, no RNG
        return [((seed * 31 + d * 17) % 1000) / 1000.0 + 0.001 for d in range(64)]

    rows = [(i, vec(s)) for i, s in enumerate(seeds)]
    dup_src = rows[dup_idx % len(rows)]
    rows.append((len(rows), dup_src[1]))  # exact duplicate, new id
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_pairs_above(df, threshold=0.99).collect()
    }
    assert (dup_src[0], len(rows) - 1) in got, got


@settings(**SETTINGS)
@given(gram_words=st.integers(8, 12), n_docs=st.integers(2, 6))
def test_decontaminate_flags_doc_containing_eval_gram(spark, gram_words, n_docs):
    """Constructive guarantee: a training doc that literally contains an
    8-word span of an eval doc is always flagged — pins the shingle
    window arithmetic against off-by-one regressions."""
    from real_time_rides_data_pipeline_spark.functions.text import word_shingles
    from pyspark.sql import functions as F

    eval_text = " ".join(f"ev{i}" for i in range(gram_words))
    # training docs: one embeds the first 8 eval words mid-sentence,
    # the rest are disjoint vocab
    contaminated = "pre filler " + " ".join(f"ev{i}" for i in range(8)) + " post"
    docs = [(0, contaminated)] + [
        (i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(1, n_docs)
    ]
    train = spark.createDataFrame(docs, "doc_id long, text string")
    egrams = spark.createDataFrame([(eval_text,)], "text string").select(
        F.explode(word_shingles(F.col("text"), 8)).alias("g")
    )
    flagged = {
        r.doc_id
        for r in train.select(
            "doc_id", F.explode(word_shingles(F.col("text"), 8)).alias("g")
        )
        .join(egrams, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert 0 in flagged
    assert flagged == {0}


@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=30,
    )
)
def test_morton_code_matches_reference(spark, pairs):
    """The JVM bit-interleave must equal the driver-side reference
    implementation for arbitrary in-range inputs."""
    from real_time_rides_data_pipeline_spark.functions.layout import (
        morton_code,
        morton_code_py,
    )

    df = spark.createDataFrame(pairs, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton_code(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    }
    for x, y in pairs:
        assert got[(x, y)] == morton_code_py(x, y, 8), (x, y)


def test_morton_bucket_spans_are_bounded(spark):
    """Textbook z-order guarantee: a bucket of 256 consecutive 16-bit
    z-values spans at most 16 distinct values per dimension (high 4 bits
    of each dimension are fixed). Exhaustive over the full 256x256 grid."""
    from real_time_rides_data_pipeline_spark.functions.layout import morton_code

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("int").alias("x"),
        (F.col("id") / 256).cast("int").alias("y"),
    )
    spans = (
        grid.select(
            "x", "y", morton_code(F.col("x"), F.col("y"), 8).alias("z")
        )
        .groupBy(F.floor(F.col("z") / 256).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(spans) == 256
    for r in spans:
        assert r["n"] == 256
        assert r["xs"] <= 15 and r["ys"] <= 15, dict(r.asDict())


@settings(**SETTINGS)
@given(
    toks=st.lists(st.integers(1, 500), min_size=1, max_size=40),
    budget=st.sampled_from([64, 256, 2048]),
)
def test_sequence_pack_invariants(spark, toks, budget):
    """Greedy packing contract: token totals preserved; every document's
    pack equals a sequential driver-side re-pack (a doc larger than the
    budget legitimately SKIPS pack ids — offset buckets, not a counter —
    so contiguity is deliberately not asserted)."""
    from real_time_rides_data_pipeline_spark.operators.packing import (
        pack_assignments,
        pack_stats,
    )

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    n_shards = 4
    stats = pack_stats(df, "doc_id", "n_tok", budget, n_shards).collect()
    assert sum(r["pack_tokens"] for r in stats) == sum(toks)
    assert sum(r["n_docs"] for r in stats) == len(toks)
    # per-doc assignment agrees with a sequential driver-side re-pack
    assigns = pack_assignments(df, "doc_id", "n_tok", budget, n_shards).collect()
    expect: dict[int, int] = {}
    for shard in range(n_shards):
        offset = 0
        for i, t in rows:
            if i % n_shards != shard:
                continue
            expect[i] = offset // budget
            offset += t
    for r in assigns:
        assert r["pack_id"] == expect[r["doc_id"]], dict(r.asDict())


def test_morton_code_wide_bits_and_guard(spark):
    """ADVICE r5: for bits > 15 the old int accumulator hit the sign bit.
    bits=20 must match the driver reference near the top of the range, and
    out-of-range bits must raise."""
    import pytest

    from real_time_rides_data_pipeline_spark.functions.layout import (
        morton_code,
        morton_code_py,
    )

    top = (1 << 20) - 1
    pairs = [(top, top), (top, 0), (0, top), (123456, 654321)]
    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton_code(F.col("x"), F.col("y"), 20).alias("z")
        ).collect()
    }
    for x, y in pairs:
        assert got[(x, y)] == morton_code_py(x, y, 20), (x, y)
    with pytest.raises(ValueError, match=r"\[1, 31\]"):
        morton_code(F.col("x"), F.col("y"), 32)


def test_connected_components_star_on_high_degree_hub(spark):
    """Pathological high-degree star — the exact shape large-star exists
    for: one hub adjacent to 400 leaves (plus a chain stitched through the
    leaves so the component isn't radius-1 trivial). Large-star moves every
    leaf to the component minimum in one hop regardless of degree, so the
    alternation converges in a handful of rounds; the hub's neighborhood is
    the worst case for per-node fan-out. Also checks the hub NOT being the
    minimum id (leaves must not root at the hub)."""
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    hub = 500  # deliberately NOT the min id
    leaves = list(range(400))
    vertices = spark.createDataFrame(
        [(hub,)] + [(i,) for i in leaves], "id long"
    )
    star_edges = [(hub, i) for i in leaves]
    chain_edges = [(i, i + 1) for i in range(0, 399, 7)]
    edf = spark.createDataFrame(star_edges + chain_edges, "src long, dst long")
    got = {
        r.id: r.component
        for r in connected_components(vertices, edf, max_iter=10).collect()
    }
    assert got == {hub: 0, **{i: 0 for i in leaves}}


def test_connected_components_star_on_two_hub_barbell(spark):
    """Two high-degree stars bridged by one edge (barbell) — stresses the
    merge of two locally-converged min-rooted stars through a single
    cross-edge; distinct components must NOT merge without the bridge."""
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    a_hub, b_hub = 100, 300
    a_leaves = list(range(101, 200))
    b_leaves = list(range(301, 400))
    vertices = spark.createDataFrame(
        [(v,) for v in [a_hub, b_hub] + a_leaves + b_leaves], "id long"
    )
    edges = [(a_hub, i) for i in a_leaves] + [(b_hub, i) for i in b_leaves]
    no_bridge = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.component
        for r in connected_components(vertices, no_bridge, max_iter=10).collect()
    }
    assert all(got[i] == a_hub for i in [a_hub] + a_leaves)
    assert all(got[i] == b_hub for i in [b_hub] + b_leaves)
    bridged = spark.createDataFrame(
        edges + [(a_leaves[-1], b_leaves[0])], "src long, dst long"
    )
    got2 = {
        r.id: r.component
        for r in connected_components(vertices, bridged, max_iter=10).collect()
    }
    assert set(got2.values()) == {a_hub}


@settings(**SETTINGS)
@given(
    keys=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=40),
    probes=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=40),
)
def test_bloom_never_false_negative(spark, keys, probes):
    """Classic Bloom guarantee, on the bit_or-aggregated implementation:
    every inserted key must probe TRUE; non-members may false-positive
    (removed by the caller's exact verify join) but members never miss."""
    from real_time_rides_data_pipeline_spark.operators import bloom as B

    df = spark.createDataFrame([(k,) for k in set(keys)], "g string")
    words = B.build_bloom_words(df, "g", m_bits=1 << 12, k=4)
    univ = sorted(set(keys) | set(probes))
    pdf = spark.createDataFrame([(p,) for p in univ], "g string")
    got = {
        r["g"]: r["hit"]
        for r in pdf.select(
            "g", B.might_contain(F.col("g"), words, m_bits=1 << 12, k=4).alias("hit")
        ).collect()
    }
    for k in set(keys):
        assert got[k] is True, f"false negative on inserted key {k!r}"


@settings(**SETTINGS)
@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 3),          # user
            st.integers(0, 50),         # version (ts stand-in)
            st.sampled_from(["upsert", "error"]),
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda t: (t[0], t[1]),
    ),
    split=st.lists(st.integers(0, 2), min_size=24, max_size=24),
    order=st.permutations([0, 1, 2]),
)
def test_merge_cdc_converges_under_any_batching(spark, tmp_path_factory, ops, split, order):
    """Partition a CDC op log into up to 3 batches ARBITRARILY (hypothesis
    picks the assignment AND the application order); the version-guarded
    merge must converge to the same final state as a single batch pass —
    the exactly-the-batch-answer contract q_cdc_stream pins at 2 batches,
    generalized."""
    from real_time_rides_data_pipeline_spark.sinks import merge_cdc_parquet

    cols = "user_id long, last_op string, last_ts long, n_ops long"
    batches = {0: [], 1: [], 2: []}
    for i, op in enumerate(ops):
        batches[split[i % len(split)]].append(op)

    target = str(tmp_path_factory.mktemp("cdc")) + "/state"
    for b in order:
        rows = batches[b]
        if not rows:
            continue
        # within-batch compaction: keep max-version op per user + count
        best, cnt = {}, {}
        for u, v, op in rows:
            cnt[u] = cnt.get(u, 0) + 1
            if u not in best or v > best[u][1]:
                best[u] = (u, v, op)
        compact = spark.createDataFrame(
            [(u, op, v, cnt[u]) for (u, v, op) in best.values()], cols
        )
        merge_cdc_parquet(
            spark, compact, target, keys=("user_id",),
            order_cols=("last_ts",), add_cols=("n_ops",),
        )
    got = {
        r["user_id"]: (r["last_op"], r["last_ts"], r["n_ops"])
        for r in spark.read.parquet(target).collect()
    }
    # reference: single-pass batch answer
    want = {}
    counts = {}
    for u, v, op in ops:
        counts[u] = counts.get(u, 0) + 1
        if u not in want or v > want[u][1]:
            want[u] = (op, v)
    expected = {u: (op, v, counts[u]) for u, (op, v) in want.items()}
    assert got == expected


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=16,
    )
)
def test_prefix_filter_jaccard_join_complete(spark, docs):
    """The prefix-filter lemma claim behind q_jaccard_join_exact: the
    blocked join must find EVERY pair with shingle-Jaccard >= 4/5 that
    brute force finds — recall exactly 1 (precision is enforced by the
    exact verify stage, so the result sets must be equal)."""
    import tempfile

    from real_time_rides_data_pipeline_spark.queries_ops import (
        q_jaccard_join_exact,
    )

    d = tempfile.mkdtemp(prefix="ppjoin_")
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")

    got = {
        (r["id_a"], r["id_b"], r["jaccard_ppm"])
        for r in q_jaccard_join_exact(spark, d).collect()
    }

    # brute force on the same duped corpus, driver-side
    def shingles(words):
        if len(words) <= 3:
            return {" ".join(words)}
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}

    corpus = [(i, shingles(w)) for i, w in enumerate(docs)] + [
        (i + 1000000, shingles(w))
        for i, w in enumerate(docs)
        if i % 5 == 0
    ]
    want = set()
    for ai in range(len(corpus)):
        for bi in range(len(corpus)):
            ia, sa = corpus[ai]
            ib, sb = corpus[bi]
            if ia >= ib:
                continue
            inter, uni = len(sa & sb), len(sa | sb)
            if 5 * inter >= 4 * uni:
                want.add((ia, ib, inter * 1000000 // uni))
    assert got == want


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=30,
    )
)
def test_degree_ordered_triangle_count_exact(spark, edges):
    """The degree-ordered orientation in q_triangle_count must count every
    triangle exactly once on arbitrary graphs (self-loops dropped, edges
    deduped) — compared against a driver-side brute force."""
    from itertools import combinations

    from pyspark.sql import functions as F

    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = sorted({n for e in und for n in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    if not und:
        return
    e = spark.createDataFrame(sorted(und), "u long, v long")
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower = F.struct("du", "u") < F.struct("dv", "v")
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(
                lower, F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
            )
            .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
            .alias("dkey"),
        )
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.dkey") < F.col("w2.dkey")),
    ).select(F.col("w1.dst").alias("x"), F.col("w2.dst").alias("y"))
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    got = wedges.join(closing, ["x", "y"]).count()
    assert got == want, (sorted(und), got, want)


@settings(**SETTINGS)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=20,
    )
)
def test_pareto_frontier_matches_brute_force(spark, pts):
    """The O(N log N) staircase sweep must return exactly the rows the
    O(N²) dominance definition keeps — including duplicate points (mutually
    non-dominating) and ties on either axis. Small integer domains force
    heavy collisions on both axes."""
    from real_time_rides_data_pipeline_spark.operators.topk import (
        pareto_frontier_2d,
    )

    rows = [(i, a, b) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = sorted(
        (r["id"], r["a"], r["b"])
        for r in pareto_frontier_2d(df, "a", "b").collect()
    )
    want = sorted(
        (i, a, b)
        for i, a, b in rows
        if not any(
            ua <= a and ub >= b and (ua < a or ub > b) for _, ua, ub in rows
        )
    )
    assert got == want


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_dup_span_profile_matches_brute_force(spark, docs):
    """The compact-aggregate span profile must equal the positional
    brute-force definition: a span position is duplicated iff its n-token
    sequence occurs in >= 2 distinct docs. A 3-letter alphabet at n=2
    forces heavy cross-doc and within-doc span collisions; docs shorter
    than n must profile as (0, 0, false)."""
    from real_time_rides_data_pipeline_spark.operators.textdedup import (
        dup_span_profile,
    )

    n = 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["flag_dup_heavy"])
        for r in dup_span_profile(df, n=n).collect()
    }
    spans = {
        i: [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        for i, toks in enumerate(docs)
    }
    owners = {}
    for i, sp in spans.items():
        for s in sp:
            owners.setdefault(s, set()).add(i)
    want = {}
    for i, sp in spans.items():
        ndup = sum(1 for s in sp if len(owners[s]) >= 2)
        want[i] = (len(sp), ndup, len(sp) > 0 and 5 * ndup >= len(sp))
    assert got == want, (docs, got, want)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(st.integers(-5, 5), st.booleans()),
        min_size=1,
        max_size=24,
    )
)
def test_ks_two_sample_matches_brute_force(spark, vals):
    """The staircase KS numerator must equal the brute-force ECDF sweep:
    D_num = max over pooled distinct v of |cum_a(v)*n_b - cum_b(v)*n_a|,
    d_at the smallest v attaining it. Small integer domains force ties
    across and within sides; one-sided inputs (n_a or n_b = 0) must
    still return a well-defined row."""
    from real_time_rides_data_pipeline_spark.operators.agg import (
        ks_two_sample,
    )

    df = spark.createDataFrame(vals, "v long, is_a boolean")
    r = ks_two_sample(df, "v", "is_a").collect()[0]
    a = sorted(v for v, s in vals if s)
    b = sorted(v for v, s in vals if not s)
    na, nb = len(a), len(b)
    best, best_at = -1, None
    for v in sorted({v for v, _ in vals}):
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        d = abs(ca * nb - cb * na)
        if d > best:
            best, best_at = d, v
    assert (r["n_left"], r["n_right"], r["d_num"], r["d_at"]) == (
        na,
        nb,
        best,
        best_at,
    ), (vals, dict(r.asDict()))


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_span_novelty_profile_matches_brute_force(spark, docs):
    """A span position is novel iff no smaller doc id contains the same
    n-token sequence — the min-id owner keeps ALL its positions,
    including within-doc repeats."""
    from real_time_rides_data_pipeline_spark.operators.textdedup import (
        span_novelty_profile,
    )

    n = 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_novel_spans"], r["novelty_ppm"])
        for r in span_novelty_profile(df, n=n).collect()
    }
    spans = {
        i: [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        for i, toks in enumerate(docs)
    }
    first = {}
    for i in sorted(spans):
        for sp in spans[i]:
            first.setdefault(sp, i)
    want = {}
    for i, sp in spans.items():
        nov = sum(1 for s in sp if first[s] == i)
        ppm = (1_000_000 * nov) // len(sp) if sp else None
        want[i] = (len(sp), nov, ppm)
    assert got == want, (docs, got, want)


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 400), st.integers(1, 180)),
        min_size=1,
        max_size=8,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 400), st.integers(1, 180)),
        min_size=1,
        max_size=8,
    ),
    bucket=st.sampled_from([7, 60, 100]),
)
def test_interval_overlap_join_matches_theta_join(spark, lefts, rights, bucket):
    """bucketed_interval_overlap_join == the naive O(n²) overlap predicate,
    with every pair reported EXACTLY once — across bucket widths finer
    than, comparable to, and coarser than the interval lengths (the
    canonical-cell dedup is what's under test when intervals span many
    cells)."""
    from real_time_rides_data_pipeline_spark.operators.joins import (
        bucketed_interval_overlap_join,
    )

    def ts(col):
        return F.timestamp_micros(col * 1_000_000)

    left = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(lefts)],
        "lid long, ls long, le long",
    ).select("lid", ts(F.col("ls")).alias("ls"), ts(F.col("le")).alias("le"))
    right = spark.createDataFrame(
        [(j, s, s + d) for j, (s, d) in enumerate(rights)],
        "rid long, rs long, re long",
    ).select("rid", ts(F.col("rs")).alias("rs"), ts(F.col("re")).alias("re"))
    got = sorted(
        (r.lid, r.rid)
        for r in bucketed_interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=bucket
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, d1) in enumerate(lefts)
        for j, (s2, d2) in enumerate(rights)
        if s1 < s2 + d2 and s2 < s1 + d1
    )
    assert got == want, (got, want, bucket)


def _pagerank_int_py(
    edges: list[tuple[int, int]], iterations: int, scale: int, damping: int
) -> dict[int, int]:
    """Pure-Python twin of operators.graph.pagerank_int (floor div)."""
    from collections import defaultdict

    out: dict[int, list[int]] = defaultdict(list)
    for s, d in set(edges):
        out[s].append(d)
    nodes = sorted(out)
    base = scale * (100 - damping) // 100
    r = {n: scale for n in nodes}
    for _ in range(iterations):
        contrib: dict[int, int] = defaultdict(int)
        for s in nodes:
            c = r[s] // len(out[s])
            for d in out[s]:
                contrib[d] += c
        r = {n: base + damping * contrib.get(n, 0) // 100 for n in nodes}
    return r


@settings(**SETTINGS)
@given(
    n=st.integers(2, 8),
    edge_idx=st.lists(st.integers(0, 63), min_size=1, max_size=14),
)
def test_pagerank_int_matches_python_reference(spark, n, edge_idx):
    """pagerank_int == the sequential floor-div recurrence, bit-exact —
    the whole point of integer PageRank is that partitioning/summation
    order cannot change a single rank value."""
    from real_time_rides_data_pipeline_spark.operators.graph import pagerank_int

    pairs = sorted({(i // n % n, i % n) for i in edge_idx})
    # symmetrize so no node is dangling (the operator's contract)
    edges = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.r
        for r in pagerank_int(df, scale=10**9).collect()
    }
    want = _pagerank_int_py(edges, iterations=3, scale=10**9, damping=85)
    assert got == want, (edges, got, want)


@settings(**SETTINGS)
@given(
    deltas=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=40
    )
)
def test_clamped_balance_prefix_identity_equals_fold(spark, deltas):
    """The closed form b_i = S_i - min(0, min_{j<=i} S_j) (two stacked
    windows, q_clamped_running_balance) must equal the sequential fold
    b_i = max(0, b_{i-1} + delta_i) on arbitrary signed integer deltas —
    the algebraic identity that makes the one-sided clamp parallel."""
    from pyspark.sql import Window

    rows = [(1, i, d) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "user_id long, seq long, delta long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = df.withColumn("prefix", F.sum("delta").over(w)).withColumn(
        "min_prefix", F.min("prefix").over(w)
    )
    got = {
        r["seq"]: r["bal"]
        for r in s.select(
            "seq",
            (F.col("prefix") - F.least(F.col("min_prefix"), F.lit(0))).alias("bal"),
        ).collect()
    }
    b, want = 0, {}
    for i, d in enumerate(deltas):
        b = max(0, b + d)
        want[i] = b
    assert got == want


@settings(**SETTINGS)
@given(
    deltas=st.lists(
        st.integers(min_value=-30_000, max_value=30_000), min_size=1, max_size=30
    )
)
def test_capped_balance_grouped_fold_equals_python_fold(spark, deltas):
    """The grouped-map numpy fold behind q_capped_balance_fold must equal
    the reference sequential fold b = min(cap, max(0, b + d)) on arbitrary
    signed deltas — including runs that saturate BOTH clamps."""
    import tempfile
    from datetime import datetime, timedelta

    from real_time_rides_data_pipeline_spark.queries_mining import (
        _CAP_CENTS,
        q_capped_balance_fold,
    )

    d = tempfile.mkdtemp(prefix="capfold_")
    t0 = datetime(2024, 1, 1)
    # drive through the real key: deltas arrive as purchase/error cents
    rows = [
        (
            i,
            t0 + timedelta(minutes=i),
            1,
            "purchase" if x >= 0 else "error",
            abs(x) / 100.0,
        )
        for i, x in enumerate(deltas)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(f"{d}/events.parquet")
    got = {
        r["event_id"]: r["balance_cents"]
        for r in q_capped_balance_fold(spark, d).collect()
    }
    b, want = 0, {}
    for i, x in enumerate(deltas):
        b = min(_CAP_CENTS, max(0, b + x))
        want[i] = b
    assert got == want


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=-1000, max_value=1000),  # order value
        ),
        min_size=1,
        max_size=40,
    ),
    n_splits=st.integers(min_value=1, max_value=3),
    k=st.integers(min_value=1, max_value=5),
    descending=st.booleans(),
)
def test_merge_topk_any_split_equals_batch(
    spark, tmp_path_factory, vals, n_splits, k, descending
):
    """ALGEBRAIC claim of sinks.merge_topk_parquet (the q_stream_kmv
    foundation): folding ANY partition of the rows, in any number of
    batches, must equal the single-pass distinct top-k — truncated
    set-union is associative/commutative/idempotent regardless of split,
    k, or direction."""
    from real_time_rides_data_pipeline_spark.sinks import merge_topk_parquet

    path = str(tmp_path_factory.mktemp("topk") / "state")
    df = spark.createDataFrame(vals, "g int, v int")
    for i in range(n_splits):
        part = df.filter(F.expr(f"pmod(hash(g, v), {n_splits}) = {i}"))
        merge_topk_parquet(
            spark, part, path, keys=("g",), order_col="v", k=k,
            descending=descending, batch_id=i,
        )
    got = {
        (r["g"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    want = set()
    for g in {g for g, _ in vals}:
        vs = sorted({v for gg, v in vals if gg == g}, reverse=descending)
        want |= {(g, v) for v in vs[:k]}
    assert got == want


@settings(**SETTINGS)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(0, 3 * 86400 - 1),   # start second within 3 days
            st.integers(1, 90 * 60),          # duration 1 s .. 90 min
        ),
        min_size=1,
        max_size=16,
    ),
)
def test_sweep_max_concurrency_matches_brute_force(spark, iv):
    """The day-partitioned sweep line (intervals split at midnight) must
    report, per day, the true max concurrent count over the half-open
    intervals and the first boundary instant attaining it — verified
    against per-instant brute force over the same piece boundaries."""
    import datetime as dt

    from real_time_rides_data_pipeline_spark.operators.agg import (
        sweep_max_concurrency,
    )

    epoch = dt.datetime(2024, 3, 1)
    rows = [
        (
            epoch + dt.timedelta(seconds=s),
            epoch + dt.timedelta(seconds=s + d),
        )
        for s, d in iv
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {
        r["day"]: (r["max_concurrent"], r["first_peak_ts"])
        for r in sweep_max_concurrency(df).collect()
    }
    # Python mirror: split at midnight, evaluate concurrency(t) at every
    # piece boundary of the day (half-open: s <= t < e).
    def day_of(t):
        return dt.datetime(t.year, t.month, t.day)

    pieces = []
    for s, e in rows:
        sd, ed = day_of(s), day_of(e)
        if ed > sd:
            if s < ed:
                pieces.append((sd, s, ed))
            if ed < e:
                pieces.append((ed, ed, e))
        else:
            pieces.append((sd, s, e))
    by_day: dict = {}
    for day, t0, t1 in pieces:
        by_day.setdefault(day, []).append((t0, t1))
    want = {}
    for day, ps in by_day.items():
        cands = sorted({t for p in ps for t in p})

        def conc(t):
            return sum(1 for s, e in rows if s <= t < e)

        mx = max(conc(t) for t in cands)
        first = min(t for t in cands if conc(t) == mx)
        want[day] = (mx, first)
    assert got == want, (got, want)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-50, 50),    # value
            st.integers(1, 9),       # weight
        ),
        min_size=1,
        max_size=24,
    ),
)
def test_weighted_median_matches_reference(spark, rows):
    """Lower weighted median: smallest value whose cumulative weight
    reaches half the group total — vs a python reference, including
    duplicate values (compression must SUM their weights first)."""
    from real_time_rides_data_pipeline_spark.operators.agg import (
        weighted_median,
    )

    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        r["g"]: (r["total_weight"], r["median_v"])
        for r in weighted_median(df, ["g"], "v", "w").collect()
    }
    want = {}
    for g in {r[0] for r in rows}:
        items = sorted((v, w) for gg, v, w in rows if gg == g)
        tot = sum(w for _, w in items)
        cum = 0
        for v, w in items:
            cum += w
            if 2 * cum >= tot:
                want[g] = (tot, v)
                break
    assert got == want, (got, want)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(0, 4),   # band (ordered sensitive value)
        ),
        min_size=4,
        max_size=30,
    ).filter(lambda rs: len({b for _, b in rs}) >= 2),
)
def test_tcloseness_emd_matches_reference(spark, rows):
    """Ordered-domain EMD (t-closeness): the exact-integer window
    formulation must equal the textbook Σ|cumdiff|/(m−1) computed in
    python fractions, floored to ppm."""
    from fractions import Fraction

    from real_time_rides_data_pipeline_spark.operators.quality import (
        tcloseness_audit,
    )

    df = spark.createDataFrame(rows, "g string, band long")
    got = {
        r["g"]: r["emd_ppm"]
        for r in tcloseness_audit(df, ["g"], "band").collect()
    }
    bands = sorted({b for _, b in rows})
    n_total = len(rows)
    want = {}
    for g in {r[0] for r in rows}:
        grp = [b for gg, b in rows if gg == g]
        n_g = len(grp)
        cum, acc = Fraction(0), Fraction(0)
        for b in bands:
            p = Fraction(sum(1 for x in grp if x == b), n_g)
            q = Fraction(sum(1 for _, x in rows if x == b), n_total)
            cum += p - q
            acc += abs(cum)
        emd = acc / (len(bands) - 1)
        want[g] = int(emd * 1000000)  # floor — emd >= 0
    assert got == want, (got, want)


# --- round-13 oracle-machinery properties (DuckDB-only, no Spark) ---------


@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "5")) * 5,
    deadline=None,
)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    )
)
def test_bpe_oracle_sql_matches_python_reference(words):
    """The unrolled-SQL BPE training oracle (q_bpe_train, round 13) must
    reproduce the reference trainer on ADVERSARIAL corpora — a 2-letter
    alphabet maximizes overlapping pairs ('aaaa'), frequency ties (the
    lexicographic tie-break), and merged-token re-participation across
    rounds — exactly the cases where a greedy string-fold rewrite of the
    merge could silently diverge."""
    import duckdb

    from real_time_rides_data_pipeline_spark.queries_ml import (
        _bpe_oracle_sql,
    )
    from tests.test_ml import _py_bpe

    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?)", [(w,) for w in words]
    )
    got = sorted(con.sql(_bpe_oracle_sql()).fetchall())
    want = sorted(_py_bpe(counts, 4))
    assert got == want, (got, want, counts)


@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "5")) * 5,
    deadline=None,
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-800, max_value=800),
            st.integers(min_value=-800, max_value=800),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_pca2_oracle_matches_numpy_eigh(pts):
    """The closed-form 2x2 eigensolve in q_pca_project_2d's oracle must
    agree with numpy.linalg.eigh up to the documented sign convention:
    projections match within 1 unit (the floor boundary on doubles that
    differ only in op-ordering)."""
    import duckdb
    import numpy as np

    from real_time_rides_data_pipeline_spark.queries_ml import (
        _pca2_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [
            (i, [x / 1000.0, y / 1000.0])
            for i, (x, y) in enumerate(pts)
        ],
    )
    got = {
        r[0]: (r[1], r[2]) for r in con.sql(_pca2_oracle_sql()).fetchall()
    }
    # numpy leg: same exact int gramian, true eigh, same sign convention
    xi = np.array(
        [
            [
                round(float(np.float32(x / 1000.0)) * 1e6),
                round(float(np.float32(y / 1000.0)) * 1e6),
            ]
            for x, y in pts
        ],
        dtype=np.float64,
    )
    g = xi.T @ xi
    _, vecs = np.linalg.eigh(g)
    u1, u2w = vecs[:, 1], vecs[:, 0]

    def signfix(v):
        i = int(np.argmax(np.abs(v)))
        return -v if v[i] < 0 else v

    u1 = signfix(u1)
    u2 = signfix(np.array([-u1[1], u1[0]]))
    for i, row in enumerate(xi):
        p1 = int(np.floor(row @ u1))
        p2 = int(np.floor(row @ u2))
        g1, g2 = got[i]
        assert abs(g1 - p1) <= 1 and abs(g2 - p2) <= 1, (
            i,
            (g1, g2),
            (p1, p2),
        )


@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "5")) * 5,
    deadline=None,
)
@given(
    st.lists(
        st.integers(min_value=1, max_value=120), min_size=1, max_size=80
    )
)
def test_systematic_sample_oracle_matches_point_enumeration(wts):
    """The closed-form n_hits in q_systematic_sample must equal brute-force
    enumeration of the 50 selection points noff + j*stride (j = 0..49) on
    ANY weight table, and sum(n_hits) must be EXACTLY min(50, total) — the
    round-14 ADVICE regression: the unshifted truncating-division form
    undercounted the unit straddling the first point (~93% of random
    tables), and both legs shared the bug so the oracle compare could not
    see it.  Covers total < 50 (the former divide-by-zero) via small
    single-user tables."""
    import duckdb

    from real_time_rides_data_pipeline_spark.registry import registry

    con = duckdb.connect()
    con.execute("CREATE TABLE events(user_id BIGINT)")
    con.executemany(
        "INSERT INTO events SELECT ? FROM range(?)",
        [(uid, wt) for uid, wt in enumerate(wts)],
    )
    got = {
        r[0]: r[3]
        for r in con.sql(registry()["q_systematic_sample"].oracle).fetchall()
    }
    total = sum(wts)
    stride = max(total // 50, 1)
    noff = stride // 2
    points = [noff + j * stride for j in range(50)]
    cum = 0
    want: dict[int, int] = {}
    for uid, wt in enumerate(wts):
        hits = sum(1 for p in points if cum <= p < cum + wt)
        if hits >= 1:
            want[uid] = hits
        cum += wt
    assert got == want, (got, want, wts)
    assert sum(got.values()) == min(50, total), (sum(got.values()), total)


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=1),
        min_size=1,
        max_size=10,
    )
)
def test_bpe_oracle_encode_degrades_on_pairless_corpus(words):
    """Encode-mode BPE oracle on a corpus where NO training round finds an
    adjacent pair (all words single-char): every b{k} is empty, and before
    the round-14 ADVICE fix the 'FROM seg, b' inner join collapsed every
    later seg to zero rows — the oracle returned no doc rows while Spark's
    early-breaking trainer still emitted per-doc counts.  The LEFT-JOIN
    no-op must now carry every word through: one doc per word, each a
    single 1-token word."""
    import duckdb

    from real_time_rides_data_pipeline_spark.queries_ml import (
        _bpe_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(i, w) for i, w in enumerate(words)],
    )
    got = sorted(con.sql(_bpe_oracle_sql(mode="encode")).fetchall())
    want = sorted((i, 1, 1) for i in range(len(words)))
    assert got == want, (got, want, words)
    # train mode stays empty-table on the same corpus (the early break)
    assert con.sql(_bpe_oracle_sql()).fetchall() == []


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_md5_int60_matches_duckdb(spark, texts):
    """The engine-portable integer hash (functions/text.md5_int60) must
    agree with its DuckDB twin ('0x' || substr(md5(x),1,15))::BIGINT on
    arbitrary unicode — the primitive under q_feature_hash and the
    round-14 value-checked MinHash/SimHash siblings."""
    import duckdb

    from real_time_rides_data_pipeline_spark.functions.text import md5_int60

    got = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in texts], "t string")
        .select("t", md5_int60(F.col("t")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    want = {
        t: con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [t]
        ).fetchone()[0]
        for t in texts
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_minhash_pipeline_precision_and_exact_dup_recall(spark, docs, dup_at):
    """Structural guarantees of the portable MinHash+LSH pipeline
    (q_minhash_bands' operator half, bypassing the fixture corpus):

    - PRECISION 1 by construction: every emitted pair with is_dup=true
      really has jaccard >= 0.5 against a brute-force python check.
    - EXACT-DUP RECALL 1: a doc with IDENTICAL text to another has an
      identical signature, hence all 4 bands equal — the pipeline can
      never miss it (banding's probabilistic recall only applies below
      jaccard 1)."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.operators import textdedup as TD

    texts = [" ".join(ws) for ws in docs]
    # plant one exact duplicate
    dup_src = dup_at % len(texts)
    texts.append(texts[dup_src])
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    s = TD.with_minhash_signature_portable(df).localCheckpoint(eager=True)
    banded = s.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_", *[F.col("minhash")[i] for i in range(4 * b, 4 * b + 4)]
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = {
        (r["ia"], r["ib"])
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .distinct()
        .collect()
    }

    def shingles(t):
        ws = t.split()
        n = max(len(ws) - 2, 1)
        return {" ".join(ws[i : i + 3]) for i in range(n)}

    # exact-dup recall 1
    assert (dup_src, len(texts) - 1) in cand
    # Spark's exact verify on the candidates must agree with python's
    # set arithmetic pair for pair (inter/union sizes AND the threshold)
    sh_tbl = s.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(F.split(F.trim("text"), r"\s+")) - 3, F.lit(0)),
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(F.split(F.trim("text"), r"\s+"), i + 1),
                    F.try_element_at(F.split(F.trim("text"), r"\s+"), i + 2),
                    F.try_element_at(F.split(F.trim("text"), r"\s+"), i + 3),
                ),
            )
        ).alias("sh"),
    )
    pairs_df = spark.createDataFrame(
        [(ia, ib) for ia, ib in cand], "id_a long, id_b long"
    )
    verified = {
        (r["id_a"], r["id_b"]): (r["i"], r["u"], r["dup"])
        for r in pairs_df.join(
            sh_tbl.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")),
            "id_a",
        )
        .join(
            sh_tbl.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sha", "shb")).alias("i"),
            F.size(F.array_union("sha", "shb")).alias("u"),
            (
                2 * F.size(F.array_intersect("sha", "shb"))
                >= F.size(F.array_union("sha", "shb"))
            ).alias("dup"),
        )
        .collect()
    }
    sh = {i: shingles(t) for i, t in enumerate(texts)}
    for ia, ib in cand:
        inter, union = len(sh[ia] & sh[ib]), len(sh[ia] | sh[ib])
        assert verified[(ia, ib)] == (inter, union, 2 * inter >= union), (
            ia,
            ib,
            verified[(ia, ib)],
            (inter, union),
        )
