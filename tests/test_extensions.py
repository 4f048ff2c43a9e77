"""Functional tests for the LLM-pipeline extension operators: the near-dup
detectors must FIND the injected duplicates, ANN must agree with brute force,
multimodal fan-out must have the right shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.operators import similarity as SIM
from real_time_rides_data_pipeline_spark.operators import textdedup as TD
from real_time_rides_data_pipeline_spark.queries_ext import (
    _neardup_docs,
    q_ann_ivf,
    q_cosine_topk,
    q_exact_dedup,
    q_frame_sample,
    q_minhash_neardup,
    q_simhash_neardup,
)

from tests.conftest import SMOKE_SF


def test_minhash_finds_injected_pairs(spark):
    """NB: the fixture corpus contains NATURAL near-dups too (e.g. docs 0/50
    at sf0.001 share a jaccard-0.95 prefix) — so assert recall of the
    injected pairs and the verified-jaccard invariant, not pair exclusivity
    (precision = 1 by construction: every emitted pair is exact-verified)."""
    docs = _neardup_docs(spark, SMOKE_SF)
    injected = {
        (r.doc_id - 1000000, r.doc_id)
        for r in docs.filter(F.col("doc_id") >= 1000000).collect()
    }
    pairs = q_minhash_neardup(spark, SMOKE_SF).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # banding recall is probabilistic but high for ~0.9 jaccard; require most
    assert len(found & injected) >= 0.7 * len(injected)
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_simhash_finds_injected_pairs(spark):
    docs = _neardup_docs(spark, SMOKE_SF)
    injected = {
        (r.doc_id - 1000000, r.doc_id)
        for r in docs.filter(F.col("doc_id") >= 1000000).collect()
    }
    pairs = q_simhash_neardup(spark, SMOKE_SF).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # dropping 2 trailing words rarely flips >3 of 32 sign-bits
    assert len(found & injected) >= 0.5 * len(injected)
    assert all(r.hamming <= 3 for r in pairs)


def test_exact_dedup_removes_all_copies(spark):
    out = q_exact_dedup(spark, SMOKE_SF)
    base = out.sparkSession.read.parquet(f"{SMOKE_SF}/documents.parquet")
    assert out.count() == base.select("text").distinct().count()
    assert out.filter(F.col("doc_id") >= 1000000).count() == 0  # originals win


def test_ivf_topk_is_subset_of_brute_force(spark):
    ivf = {r.vec_id for r in q_ann_ivf(spark, SMOKE_SF).collect()}
    brute = [r.vec_id for r in q_cosine_topk(spark, SMOKE_SF).collect()]
    assert len(ivf) == 10
    # recall against exact top-10 need not be 1.0, but the query vector's own
    # row (vec_id=0, sim=1.0) must always be found — it sits in the probed
    # cluster by construction
    assert 0 in ivf
    assert brute[0] == 0  # brute force top hit is the query vector itself


def test_frame_sample_fanout_shape(spark):
    out = q_frame_sample(spark, SMOKE_SF)
    n_docs = spark.read.parquet(f"{SMOKE_SF}/documents.parquet").count()
    rows = out.collect()
    assert len(rows) == 3 * n_docs
    assert {r.frame_idx for r in rows} == {0, 1, 2}
    assert all(r.frame_len >= 0 for r in rows)


def test_cosine_pairs_threshold(spark):
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    pairs = SIM.cosine_pairs_above(emb, 0.4).collect()
    for r in pairs:
        assert r.cosine_sim >= 0.4
        assert r.id_a < r.id_b


def test_minhash_no_false_negatives_on_exact_copies(spark):
    """Exact copies have jaccard 1.0 — banding must catch every one."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta iota word{i % 3}")
         for i in range(6)]
        + [(100 + i, f"alpha beta gamma delta epsilon zeta eta theta iota word{i % 3}")
           for i in range(6)],
        "doc_id long, text string",
    )
    pairs = TD.minhash_near_duplicates(docs, threshold=0.99).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(6):
        assert any(a % 100 == i and b % 100 == i for a, b in found), (i, found)


def test_minhash_staging_columns_never_overwrite_input(spark):
    """A caller column that shares a staging column's name must raise,
    not vanish from the output: both signers add and then drop it."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", 7)], "doc_id long, text string, x long"
    )
    for signer, staged in (
        (TD.with_minhash_signature_portable, "_mh_base"),
        (TD.with_minhash_signature_portable, "_mh_sh"),
        (TD.with_minhash_signature, "__mh_sh"),
    ):
        with pytest.raises(ValueError, match=staged):
            signer(docs.withColumnRenamed("x", staged))
    # An explicit shingles_col replaces the auto-named one, but _mh_base is
    # still staged.
    with pytest.raises(ValueError, match="_mh_base"):
        TD.with_minhash_signature_portable(
            docs.withColumnRenamed("x", "_mh_base"), shingles_col="sh"
        )
    kept = TD.with_minhash_signature_portable(
        docs.withColumnRenamed("x", "_mh_sh"), shingles_col="sh"
    )
    assert kept.select("_mh_sh").first()[0] == 7


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the sort-merge join must run with zero
    shuffles below it (the post-join aggregate still shuffles, so assert on
    the bare join plan, not the full query)."""
    from real_time_rides_data_pipeline_spark.plans.shape import explain_str
    from real_time_rides_data_pipeline_spark.queries_olap import _bucketed_tables

    li_name, o_name = _bucketed_tables(spark, SMOKE_SF)
    li, o = spark.table(li_name), spark.table(o_name)
    # At smoke scale the planner would (correctly) broadcast instead and
    # skip bucketed reading entirely; force the sort-merge path the way a
    # 100 TB join would plan it.
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    plan = explain_str(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_salted_join_skips_map_typed_salt_columns(spark):
    """salt_src=None must skip MapType columns (xxhash64 rejects them) while
    still hashing everything else, and the salted output must equal the
    plain join."""
    from real_time_rides_data_pipeline_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(1, "a", {"k": "v"}), (1, "b", {"k": "w"}), (2, "c", {"k": "x"})],
        "k int, payload string, props map<string,string>",
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "dk int, name string")
    out = salted_join(fact, dim, fact_key="k", dim_key="dk", n_salts=4)
    got = sorted((r.k, r.payload, r.name) for r in out.collect())
    assert got == [(1, "a", "one"), (1, "b", "one"), (2, "c", "two")]


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation: a 5-chain collapses to its min id, a
    singleton keeps its own, and convergence takes O(diameter) rounds."""
    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # chain 0-1-2-3-4 plus the separate pair 5-6
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    got = {
        r.id: r.component for r in connected_components(vertices, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5}


def test_dup_clusters_are_transitive(spark):
    """The doubly-truncated variant must land in its original's cluster
    even though its only candidate edge is to the middle variant."""
    from real_time_rides_data_pipeline_spark.registry import registry

    comp = registry()["q_dup_clusters"].fn(spark, SMOKE_SF)
    rows = {r.doc_id: r.cluster_rep for r in comp.collect()}
    base_ids = [i for i in rows if i < 1_000_000 and i % 5 == 0]
    assert base_ids
    transitive = sum(
        1
        for i in base_ids
        if rows.get(i + 1_000_000) == rows[i] and rows.get(i + 2_000_000) == rows[i]
    )
    # nearly every chain collapses fully (all fixture docs have >= 10 words)
    assert transitive >= 0.9 * len(base_ids), (transitive, len(base_ids))


def test_connected_components_raises_on_non_convergence(spark):
    """A component deeper than max_iter must fail loudly — silent partial
    labels would poison downstream dedup."""
    import pytest

    from real_time_rides_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(6)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, chain, max_iter=2, algorithm="labelprop")
    # and with enough rounds the same graph resolves fully (both algorithms)
    for algorithm in ("star", "labelprop"):
        got = {
            r.id: r.component
            for r in connected_components(
                vertices, chain, max_iter=10, algorithm=algorithm
            ).collect()
        }
        assert got == {i: 0 for i in range(6)}, algorithm


def test_loop_threshold_keeps_cc_labels_and_bpe_merges(spark, monkeypatch):
    """The star CC loop and the BPE fit iterate in a narrow session clone
    below their row thresholds and in the caller's session above them:
    both sides must give the same labels and merges, and the BPE fit must
    release the RDD blocks of its word-table checkpoint."""
    from real_time_rides_data_pipeline_spark import session
    from real_time_rides_data_pipeline_spark.operators import graph
    from real_time_rides_data_pipeline_spark.operators.bpe import train_bpe

    vertices = spark.createDataFrame([(i,) for i in range(9)], "id long")
    edges = spark.createDataFrame(
        [(3, 2), (2, 1), (1, 0), (4, 5), (8, 7)], "src long, dst long"
    )
    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("wider", 3)],
        "word string, n long",
    )
    def persistent_ids():
        # ids, not a count: the ContextCleaner may drop other tests' RDDs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def run():
        labels = {
            r.id: r.component
            for r in graph.connected_components(vertices, edges).collect()
        }
        before = persistent_ids()
        merges = train_bpe(words, n_merges=4)
        assert not persistent_ids() - before, "train_bpe leaked its checkpoint"
        return labels, merges

    narrow = run()
    assert narrow[0] == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7, 8: 7}
    assert len(narrow[1]) == 4
    monkeypatch.setattr(graph, "_NARROW_LOOP_EDGES", 0)
    monkeypatch.setattr(session, "NARROW_LOOP_ROWS", 0)
    assert run() == narrow


def test_kmeans_fit_is_deterministic_and_spherical(spark):
    from real_time_rides_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    a = SIM.fit_centroids_kmeans(emb, k=4, sample_n=64, seed=7)
    b = SIM.fit_centroids_kmeans(emb, k=4, sample_n=64, seed=7)
    assert a == b  # same sample, same seed → bit-identical fit
    assert len(a) == 4
    for c in a:  # spherical update keeps centroids unit-norm
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9


def test_ivf_recall_at_10_floor(spark):
    """Recall@10 of the IVF path vs brute force, averaged over 8 query
    vectors, under the same fitted centroids q_ann_ivf uses (k=8,
    sample_n=512, seed=7, n_probe=3). The fixture embeddings are
    near-uniform on the sphere — IVF's worst case — and the whole pipeline
    is deterministic (seeded fit, fixed data), so the measured mean (0.60
    at sf0.001) is exact; 0.5 is the asserted floor."""
    from real_time_rides_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    cents = SIM.fit_centroids_kmeans(emb, k=8, sample_n=512, seed=7)
    by_id = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    recalls = []
    for qid in range(8):
        qv = by_id[qid]
        brute = {r["vec_id"] for r in SIM.brute_force_topk(emb, qv, k=10).collect()}
        ivf = {
            r["vec_id"]
            for r in SIM.ivf_topk(emb, cents, qv, k=10, n_probe=3).collect()
        }
        recalls.append(len(brute & ivf) / 10)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_kmeans_fit_guards_degenerate_samples(spark):
    import warnings

    import pytest

    from real_time_rides_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        SIM.fit_centroids_kmeans(empty, k=4)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cents = SIM.fit_centroids_kmeans(emb.filter(F.col("vec_id") < 2), k=4)
    assert len(cents) == 2
    assert any("fewer" in str(x.message) or "< k" in str(x.message) for x in w)


def test_grouped_normalize_engines_agree(spark):
    """The grouped-map Pandas engine and the pure-JVM window engine are the
    same operator semantics — bit-identical outputs (both do exact int64
    floor-division on shared-helper cents)."""
    from real_time_rides_data_pipeline_spark.operators.normalize import (
        grouped_minmax_normalize,
    )

    ev = spark.read.parquet(f"{SMOKE_SF}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    win = {tuple(r) for r in grouped_minmax_normalize(ev, engine="window").collect()}
    gm = {
        tuple(r)
        for r in grouped_minmax_normalize(ev, engine="grouped_map").collect()
    }
    assert win == gm
    assert len(win) == ev.count()


def test_grouped_normalize_engines_agree_on_nulls(spark):
    """NULL values must come out NULL from BOTH engines — including inside
    a constant group, where the mx=mn→0 CASE arm would otherwise mint a 0
    (window) while pandas Int64 NA propagates (grouped_map); and an
    all-NULL group must not crash the Arrow int conversion."""
    from real_time_rides_data_pipeline_spark.operators.normalize import (
        grouped_minmax_normalize,
    )

    rows = [
        (1, 10, 1.0), (2, 10, 3.0), (3, 10, None),   # mixed group
        (4, 20, 7.0), (5, 20, 7.0), (6, 20, None),   # constant group + NULL
        (7, 30, None),                                # all-NULL group
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    win = {
        tuple(r) for r in grouped_minmax_normalize(df, engine="window").collect()
    }
    gm = {
        tuple(r)
        for r in grouped_minmax_normalize(df, engine="grouped_map").collect()
    }
    assert win == gm
    by_id = {r[0]: r[2] for r in win}
    assert by_id[3] is None and by_id[6] is None and by_id[7] is None
    assert by_id[1] == 0 and by_id[2] == 10000 and by_id[4] == 0


def test_hyperplane_planes_distinct_and_balanced():
    """The deterministic plane family must not collapse (the naive parity
    of an odd-prime linear form makes all same-parity planes identical)."""
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        hyperplane_planes,
    )

    planes = hyperplane_planes(16, 64)
    assert len({tuple(p) for p in planes}) == 16
    for p in planes:  # roughly balanced signs — not constant planes
        pos = sum(1 for x in p if x > 0)
        assert 16 <= pos <= 48, pos


def test_lsh_pairs_subset_of_exact(spark):
    """Every LSH-recalled pair must appear in the exact all-pairs result
    with the identical similarity (LSH trades recall, never precision)."""
    from real_time_rides_data_pipeline_spark.operators.similarity import (
        cosine_pairs_above,
        hyperplane_lsh_pairs_above,
    )
    from real_time_rides_data_pipeline_spark.sources import load_fixture
    from tests.conftest import SMOKE_SF

    emb = load_fixture(spark, "embeddings", SMOKE_SF)
    lsh = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in hyperplane_lsh_pairs_above(emb, 0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in cosine_pairs_above(emb, 0.4).collect()
    }
    assert lsh, "LSH recalled nothing at sf0.001 — banding is broken"
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())


def test_expectations_partition_rows(spark):
    """retain + violations is a partition of the input: row counts add up
    and stats totals equal the input count for every rule."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.operators import quality as Q
    from real_time_rides_data_pipeline_spark.sources import load_fixture

    ev = load_fixture(spark, "events", SMOKE_SF)
    rules = {
        "value_in_band": (F.col("value") >= 0) & (F.col("value") < 400),
        "ts_present": F.col("ts").isNotNull(),
    }
    total = ev.count()
    kept = Q.retain(ev, rules).count()
    quarantined = Q.violations(ev, rules).count()
    assert kept + quarantined == total
    stats = {r["expectation"]: r for r in Q.expectation_stats(ev, rules).collect()}
    assert set(stats) == set(rules)
    for r in stats.values():
        assert r["n_pass"] + r["n_fail"] == total


def test_paragraph_dedup_drops_all_copies(spark):
    """A paragraph injected into two different docs must vanish from BOTH
    reassembled texts; unique paragraphs survive in order."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.queries import registry as _reg

    fn = _reg()["q_paragraph_dedup"].fn
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        shared = " ".join(f"s{i}" for i in range(10))
        u1 = " ".join(f"a{i}" for i in range(10))
        u2 = " ".join(f"b{i}" for i in range(10))
        df = spark.createDataFrame(
            [
                (0, f"{u1} {shared}", "en", "src1", 0),
                (1, f"{shared} {u2}", "en", "src1", 0),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["doc_id"]: r for r in fn(spark, tmp).collect()}
        assert out[0]["clean_text"] == u1 and out[0]["n_dropped"] == 1
        assert out[1]["clean_text"] == u2 and out[1]["n_dropped"] == 1


def test_hll_shard_merge_equals_single_pass_and_bounds_error(spark):
    """Sketch union is associative: the sharded-merged estimate must equal
    the single-pass sketch estimate EXACTLY (same algorithm, same lgK),
    and sit within 5% of the true distinct count."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.queries import registry as _reg
    from real_time_rides_data_pipeline_spark.sources import load_fixture

    from tests.conftest import ORACLE_SF

    ev = load_fixture(spark, "events", ORACLE_SF)
    sharded = (
        ev.groupBy(F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("shard"))
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).cast(
                "long"
            )
        )
        .first()[0]
    )
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).cast("long")
    ).first()[0]
    assert sharded == single
    true = ev.select("user_id").distinct().count()
    assert abs(sharded - true) / true < 0.05, (sharded, true)
    # and the registered key attests exactly that bound + the exact count
    row = _reg()["q_hll_shard_merge"].fn(spark, ORACLE_SF).first()
    assert row["exact_distinct"] == true and row["merged_within_5pct"] is True


def test_ivf_recall_floor_and_full_probe_exactness(spark):
    """The r4-requested recall number: under the fitted centroids with
    n_probe=3 of 8, recall@10 vs exact brute force must hold a 0.5 floor
    (measured 0.6 at both sf0.001 and sf0.01); and probing ALL clusters
    must recover the exact top-10 — IVF's only loss is the pruned
    clusters, never the scoring."""
    from real_time_rides_data_pipeline_spark.operators import similarity as SIM
    from real_time_rides_data_pipeline_spark.queries_ext import _query_vec
    from real_time_rides_data_pipeline_spark.registry import _t

    emb = _t(spark, SMOKE_SF, "embeddings", parallel=True)
    cents = SIM.fit_centroids_kmeans(emb, k=8, sample_n=512, seed=7)
    qv = _query_vec(spark, SMOKE_SF)
    brute10 = [
        r.vec_id for r in SIM.brute_force_topk(emb, qv, k=10).collect()
    ]
    ivf3 = {
        r.vec_id
        for r in SIM.ivf_topk(emb, cents, qv, k=10, n_probe=3).collect()
    }
    assert len(ivf3 & set(brute10)) / 10 >= 0.5, (ivf3, brute10)
    ivf_all = {
        r.vec_id
        for r in SIM.ivf_topk(emb, cents, qv, k=10, n_probe=8).collect()
    }
    assert ivf_all == set(brute10), (ivf_all, brute10)


def test_expectation_stats_rejects_unsafe_names(spark):
    import pytest
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.operators import quality as Q

    df = spark.range(3)
    with pytest.raises(ValueError, match="must match"):
        Q.expectation_stats(df, {"bad'name": F.col("id") >= 0})


def test_expectation_stats_rejects_empty_dict(spark):
    """ADVICE r5: an empty expectations dict used to build 'stack(0, )' —
    a confusing runtime SQL parse error; must fail fast instead."""
    import pytest

    from real_time_rides_data_pipeline_spark.operators import quality as Q

    with pytest.raises(ValueError, match="non-empty"):
        Q.expectation_stats(spark.range(3), {})


def test_short_doc_shingles_and_bigrams_survive_ansi(spark):
    """Regression (round-6 self-review): under ANSI mode (the deployed
    default) element_at on an out-of-bounds index THROWS, so any document
    with fewer tokens than the shingle/bigram width crashed the whole job.
    try_element_at yields NULL instead — matching the DuckDB oracles'
    NULL-skipping list indexing."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.functions import text as X

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "a b c d e f g")],
        "doc_id long, text string",
    )
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", X.word_shingles(F.col("text"), 6).alias("sh")
        ).collect()
    }
    assert sh[1] == ["solo"]          # short gram via NULL-skip, no crash
    assert sh[2] == ["two words"]
    assert sh[3] == ["a b c d e f", "b c d e f g"]


def test_bitmap_ndv_spans_buckets(spark):
    """Round-6 follow-up review: bitmap NDV must group by
    bitmap_bucket_number — without it, ids 32768 apart alias to the same
    bit and NDV silently caps at 32768."""
    from pyspark.sql import functions as F

    n = 40000
    df = spark.range(n).select(
        F.lit("t").alias("event_type"), F.col("id").alias("user_id")
    )
    per_bucket = df.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id + 1)").alias("b")
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(user_id + 1)))"
        ).cast("long").alias("c")
    )
    got = per_bucket.groupBy("event_type").agg(F.sum("c").alias("n")).collect()
    assert got[0]["n"] == n


def test_corr_exact_zero_variance_is_null(spark):
    """A zero-variance group (single doc / constant lengths) must yield
    NULL corr_ppm, not an ANSI DIVIDE_BY_ZERO crash."""
    import tempfile

    from real_time_rides_data_pipeline_spark.queries_scale import q_corr_exact

    d = tempfile.mkdtemp(prefix="corr0_")
    spark.createDataFrame(
        [(1, "one two three", "xx", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = q_corr_exact(spark, d).collect()
    assert len(rows) == 1 and rows[0]["corr_ppm"] is None


def test_bloom_saturation_warns_but_stays_correct(spark):
    """An undersized filter (k*n >> m_bits) must warn about saturation —
    it silently degrades toward all-positives otherwise — while keeping
    the no-false-negative guarantee; a well-sized filter must NOT warn."""
    import warnings

    from real_time_rides_data_pipeline_spark.operators import bloom as B

    big = spark.range(2000).select(F.concat(F.lit("k"), "id").alias("g"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        words = B.build_bloom_words(big, "g", m_bits=256, k=4)
    assert any(
        issubclass(w.category, RuntimeWarning) and "saturated" in str(w.message)
        for w in caught
    ), "oversaturated filter must emit a RuntimeWarning"
    hits = big.select(
        B.might_contain(F.col("g"), words, m_bits=256, k=4).alias("hit")
    ).collect()
    assert all(r["hit"] for r in hits)  # still no false negatives

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        B.build_bloom_words(big, "g", m_bits=1 << 17, k=4)
    assert not any("saturated" in str(w.message) for w in caught)


def test_cms_never_underestimates_and_bounds_error(spark):
    """Count-min hard guarantee: est >= exact for EVERY key (not just the
    heavy hitters the query emits) on a skewed synthetic multiset; and
    min-over-depth keeps the overestimate within eps*N (eps = 2/width)
    for every probed key on this deterministic input."""
    from real_time_rides_data_pipeline_spark.operators.cms import (
        build_cms,
        estimate_counts,
    )

    # Zipf-ish multiset: key i repeats (200 // (i + 1)) + 1 times.
    vals = spark.range(200).selectExpr(
        "explode(transform(sequence(1, 200 div (id + 1) + 1), x -> concat('w', id))) AS v"
    )
    depth, width = 4, 64  # deliberately tight width to force collisions
    sketch = build_cms(vals, "v", depth, width)
    exact = vals.groupBy("v").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = estimate_counts(exact, "v", sketch, depth, width)
    n_total = vals.count()
    rows = est.collect()
    assert len(rows) == 200
    assert all(r["est"] >= r["exact_cnt"] for r in rows), "CMS underestimated"
    bound = n_total * 2 // width
    assert all(r["est"] <= r["exact_cnt"] + bound for r in rows), (
        "min-over-depth exceeded the eps=2/width bound on deterministic input"
    )


def test_cms_absent_key_estimates_zero_or_collision(spark):
    """A never-inserted key must estimate 0 unless every one of its depth
    cells collides — with depth 4 over a sparse sketch, 0 here."""
    from real_time_rides_data_pipeline_spark.operators.cms import (
        build_cms,
        estimate_counts,
    )

    vals = spark.range(4).selectExpr("concat('in', id) AS v")
    sketch = build_cms(vals, "v", 4, 1024)
    probe = spark.range(1).selectExpr("'never-inserted' AS v")
    r = estimate_counts(probe, "v", sketch, 4, 1024).collect()[0]
    assert r["est"] == 0


def test_cogroup_asof_tie_and_missing_semantics(spark):
    """q_cogroup_asof's pandas merge_asof must (a) allow exact ts matches,
    (b) break click-ts ties by MAX event_id (the secondary sort), (c) emit
    NULLs for a purchase with no prior click, and (d) emit nothing for a
    user with clicks but no purchases — the same total order the LATERAL
    oracle declares."""
    import tempfile
    from datetime import datetime

    from real_time_rides_data_pipeline_spark.queries_mining import q_cogroup_asof

    d = tempfile.mkdtemp(prefix="cgasof_")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 12, 5, 0)
    rows = [
        # user 1: two clicks TIED at t0 (ids 10, 11), purchase AT t0 (id 20)
        (10, t0, 1, "click"),
        (11, t0, 1, "click"),
        (20, t0, 1, "purchase"),
        # user 1: later purchase at t1 -> still the t0 clicks, id 11 wins
        (21, t1, 1, "purchase"),
        # user 2: purchase BEFORE its only click -> no match
        (30, t0, 2, "purchase"),
        (31, t1, 2, "click"),
        # user 3: clicks only -> no output row
        (40, t0, 3, "click"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(f"{d}/events.parquet")
    out = {r["purchase_id"]: r for r in q_cogroup_asof(spark, d).collect()}
    assert set(out) == {20, 21, 30}
    assert out[20]["click_id"] == 11 and out[20]["gap_s"] == 0
    assert out[21]["click_id"] == 11 and out[21]["gap_s"] == 300
    assert out[30]["click_id"] is None and out[30]["gap_s"] is None


def test_kanon_every_released_group_has_k_members(spark):
    """The k-anonymity invariant itself: among rows with non-null QI, every
    (nation, segment) combination appears >= k times; suppressed rows
    carry BOTH QI columns null."""
    from real_time_rides_data_pipeline_spark.queries_mining import (
        _KANON_K,
        q_kanon_suppress,
    )

    from tests.conftest import ORACLE_SF

    # ORACLE_SF (sf0.01), not SMOKE_SF: at sf0.001 every QI group is < k
    # (150 customers over 125 groups) — the released-side check would be
    # vacuous.
    rows = q_kanon_suppress(spark, ORACLE_SF).collect()
    released: dict[tuple, int] = {}
    for r in rows:
        if r["suppressed"]:
            assert r["nation_qi"] is None and r["segment_qi"] is None
        else:
            key = (r["nation_qi"], r["segment_qi"])
            assert r["nation_qi"] is not None and r["segment_qi"] is not None
            released[key] = released.get(key, 0) + 1
    assert released, "expected at least one released group at smoke SF"
    assert all(n >= _KANON_K for n in released.values())


def test_bm25_integer_pipeline_ranks_like_real_arithmetic(spark):
    """The scaled-integer floor-division pipeline must produce the SAME
    per-doc top-3 (and ordering) as REAL-arithmetic evaluation of the
    same formula — sat(tf, dl; k1=1.2, b=0.75) × odds(df) — computed in
    Python floats on the same corpus: the ppm quantization must never
    reorder terms beyond what the documented tie-break absorbs."""
    import duckdb

    from real_time_rides_data_pipeline_spark.queries_mining import q_bm25_topk
    from tests.conftest import SMOKE_SF

    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from '{SMOKE_SF}/documents.parquet'"
    )
    toks = con.sql(
        """SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
           FROM documents"""
    ).fetchall()
    tf: dict[tuple, int] = {}
    dl: dict[int, int] = {}
    for doc, t in toks:
        tf[(doc, t)] = tf.get((doc, t), 0) + 1
        dl[doc] = dl.get(doc, 0) + 1
    dfreq: dict[str, int] = {}
    for (_, t), _n in tf.items():
        dfreq[t] = dfreq.get(t, 0) + 1
    n_docs, sum_dl = len(dl), sum(dl.values())
    # Same integer avgdl the pipeline precomputes (overflow-free corpus
    # normalization); everything DOWNSTREAM of it is real arithmetic, so
    # the assertion isolates the ppm floor-division quantization.
    avgdl = sum_dl // n_docs

    def fscore(doc, t):
        k1, b = 1.2, 0.75
        f = tf[(doc, t)]
        sat = f * (k1 + 1) / (f + k1 * (1 - b + b * dl[doc] / avgdl))
        odds = (2 * (n_docs - dfreq[t]) + 1) / (2 * dfreq[t] + 1)
        return sat * odds

    expected = {}
    for doc in dl:
        terms = sorted(
            (t for (dd, t) in tf if dd == doc),
            key=lambda t: (-fscore(doc, t), -tf[(doc, t)], t),
        )[:3]
        expected[doc] = terms
    got: dict[int, list] = {}
    for r in sorted(
        q_bm25_topk(spark, SMOKE_SF).collect(), key=lambda r: (r["doc_id"], r["rk"])
    ):
        got.setdefault(r["doc_id"], []).append(r["term"])
    assert got == expected


def test_additive_merge_reconstructs_batch_sketch_and_is_idempotent(spark):
    """Sketch mergeability, the q_stream_cms_merge claim: folding per-split
    partial sketches through an all-sum merge_distributive_parquet must
    reconstruct the single-pass sketch EXACTLY; replaying an
    already-committed batch_id must be a no-op (an additive accumulator
    double-counts otherwise)."""
    import tempfile

    from real_time_rides_data_pipeline_spark.operators.cms import build_cms
    from real_time_rides_data_pipeline_spark.sinks import (
        merge_distributive_parquet,
    )

    vals = spark.range(500).selectExpr("concat('w', id % 37) AS v")
    whole = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in build_cms(vals, "v", 4, 64).collect()
    }
    state = tempfile.mkdtemp(prefix="addmerge_") + "/sketch"
    for i, part in enumerate(
        (vals.filter("id % 2 = 0"), vals.filter("id % 2 = 1"))
    ):
        merge_distributive_parquet(
            spark, build_cms(part, "v", 4, 64), state,
            keys=("row", "bucket"), agg_spec={"cnt": "sum"}, batch_id=i,
        )
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert merged == whole
    # at-least-once replay of batch 1 must not double-count
    merge_distributive_parquet(
        spark, build_cms(vals.filter("id % 2 = 1"), "v", 4, 64), state,
        keys=("row", "bucket"), agg_spec={"cnt": "sum"}, batch_id=1,
    )
    replayed = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert replayed == whole


def test_distributive_merge_folds_minmax_and_is_idempotent(spark, tmp_path):
    """merge_distributive_parquet: sum/min/max columns fold across batches
    exactly; a replayed batch_id is a no-op; non-distributive fns refuse."""
    import pytest as _pytest

    from real_time_rides_data_pipeline_spark.sinks import (
        merge_distributive_parquet,
    )

    path = str(tmp_path / "state")
    spec = {"n": "sum", "lo": "min", "hi": "max"}
    b1 = spark.createDataFrame(
        [("a", 1, 5, 5), ("a", 1, 9, 9), ("b", 1, 2, 2)], "k string, n long, lo long, hi long"
    )
    b2 = spark.createDataFrame(
        [("a", 1, 1, 1), ("b", 1, 7, 7)], "k string, n long, lo long, hi long"
    )
    merge_distributive_parquet(spark, b1, path, keys=("k",), agg_spec=spec, batch_id=0)
    merge_distributive_parquet(spark, b2, path, keys=("k",), agg_spec=spec, batch_id=1)
    # replay of batch 1 must not double-fold
    merge_distributive_parquet(spark, b2, path, keys=("k",), agg_spec=spec, batch_id=1)
    got = {r["k"]: (r["n"], r["lo"], r["hi"]) for r in spark.read.parquet(path).collect()}
    assert got == {"a": (3, 1, 9), "b": (2, 2, 7)}
    with _pytest.raises(ValueError, match="non-distributive"):
        merge_distributive_parquet(
            spark, b1, path, keys=("k",), agg_spec={"n": "avg"}, batch_id=2
        )


def test_distributive_merge_folds_struct_ordering_keys(spark, tmp_path):
    """Struct-valued min/max columns — the argmin/argmax carrier
    q_stream_ohlc depends on — must fold LEXICOGRAPHICALLY across batches
    and survive the parquet state read-back (struct column round trip),
    with the num_partitions writer cap applied. Pins the exact shape the
    streaming OHLC key uses: struct(o BIGINT, c BIGINT), min = argmin
    carrier (open), max = argmax carrier (close)."""
    from real_time_rides_data_pipeline_spark.sinks import (
        merge_distributive_parquet,
    )

    path = str(tmp_path / "state")
    spec = {"okey": "min", "ckey": "max", "volume": "sum"}
    schema = (
        "k string, okey struct<o: bigint, c: bigint>, "
        "ckey struct<o: bigint, c: bigint>, volume long"
    )
    # batch 1: key a sees orders 10 and 30; batch 2 brings an EARLIER order
    # (o=5) and a LATER one (o=40) — the fold must move open to c=500 and
    # close to c=400, reading the batch-1 structs back from parquet state.
    # Equal-o tie inside batch 2 for key b pins the lexicographic second
    # field: (7, 100) < (7, 200).
    b1 = spark.createDataFrame(
        [
            ("a", (10, 1000), (30, 3000), 2),
            ("b", (7, 200), (7, 200), 1),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            ("a", (5, 500), (40, 400), 2),
            ("b", (7, 100), (7, 100), 1),
        ],
        schema,
    )
    for i, b in enumerate((b1, b2)):
        merge_distributive_parquet(
            spark, b, path, keys=("k",), agg_spec=spec, batch_id=i,
            num_partitions=2,
        )
    # replay of batch 1 (stale id) must be a no-op on struct state too
    merge_distributive_parquet(
        spark, b1, path, keys=("k",), agg_spec=spec, batch_id=0,
        num_partitions=2,
    )
    got = {
        r["k"]: (
            (r["okey"]["o"], r["okey"]["c"]),
            (r["ckey"]["o"], r["ckey"]["c"]),
            r["volume"],
        )
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        "a": ((5, 500), (40, 400), 4),
        "b": ((7, 100), (7, 200), 2),
    }
    import glob

    n_files = len(glob.glob(f"{path}/part-*"))
    assert n_files <= 2, f"num_partitions=2 cap violated: {n_files} files"


def test_kmv_sketch_exact_below_k_and_mergeable(spark):
    """KMV/theta sketch (operators/kmv.py): (1) a sketch that never fills
    holds every hash ⇒ estimate == exact count; (2) the union of two
    sketches IS the sketch of the union (mergeability by construction) —
    verified value-for-value, not just by estimate; (3) in the exact
    regime the theta intersection equals the true intersection count."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.operators import kmv

    a = spark.range(0, 100).select(F.col("id"))
    b = spark.range(60, 140).select(F.col("id"))
    sk_a = kmv.kmv_sketch(a, "id", k=256)
    sk_b = kmv.kmv_sketch(b, "id", k=256)
    assert kmv.kmv_estimate(sk_a, k=256).collect()[0]["est"] == 100
    assert kmv.kmv_estimate(sk_b, k=256).collect()[0]["est"] == 80
    u = kmv.kmv_union(sk_a, sk_b, k=256)
    union_direct = kmv.kmv_sketch(
        a.unionByName(b), "id", k=256
    )
    assert sorted(r["v"] for r in u.collect()) == sorted(
        r["v"] for r in union_direct.collect()
    )
    assert kmv.kmv_estimate(u, k=256).collect()[0]["est"] == 140
    assert (
        kmv.kmv_intersect_estimate(sk_a, sk_b, k=256).collect()[0]["est"]
        == 40
    )


def test_kmv_estimator_within_rse_bounds(spark):
    """Estimation regime (N >> k): the KMV estimate of 50k distinct ids
    must land within 5 RSE (RSE = 1/sqrt(k-1) ≈ 6.3% at k=256) of truth —
    a deterministic check under the seeded xxhash64."""
    from real_time_rides_data_pipeline_spark.operators import kmv

    n, k = 50_000, 256
    sk = kmv.kmv_sketch(spark.range(n), "id", k=k)
    est = kmv.kmv_estimate(sk, k=k).collect()[0]["est"]
    assert abs(est - n) <= int(5 * n / (k - 1) ** 0.5), est


def test_merge_topk_folds_to_batch_sketch_and_skips_replay(spark, tmp_path):
    """merge_topk_parquet: folding per-split top-k partials must equal the
    single-pass top-k BIT-FOR-BIT (truncated set-union mergeability — the
    q_stream_kmv claim), and a replayed batch_id must be skipped."""
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.sinks import merge_topk_parquet

    rows = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.xxhash64("id").alias("v"),
    )
    want = {
        (r["g"], r["v"])
        for g in ("0", "1", "2")
        for r in rows.filter(F.col("g") == g)
        .orderBy("v")
        .limit(16)
        .collect()
    }
    path = str(tmp_path / "topk")
    for i, part in enumerate(
        (rows.filter("id % 2 = 0"), rows.filter("id % 2 = 1"))
    ):
        merge_topk_parquet(
            spark, part, path, keys=("g",), order_col="v", k=16, batch_id=i
        )
    got = {
        (r["g"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == want
    # replayed batch 0 (stale id) must be a no-op
    merge_topk_parquet(
        spark,
        rows.filter("id % 2 = 0"),
        path,
        keys=("g",),
        order_col="v",
        k=16,
        batch_id=0,
    )
    again = {
        (r["g"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert again == want


def test_kmv_disjoint_intersection_is_zero(spark):
    """Disjoint sets retain no common sketch values — the theta
    intersection estimate must be 0, not NULL (the empty-aggregate
    coalesce in operators/kmv.py)."""
    from real_time_rides_data_pipeline_spark.operators import kmv

    a = spark.range(0, 500)
    b = spark.range(10_000, 10_500)
    est = kmv.kmv_intersect_estimate(
        kmv.kmv_sketch(a, "id"), kmv.kmv_sketch(b, "id")
    ).collect()[0]["est"]
    assert est == 0


def test_kmv_mixed_regime_unfilled_theta_is_inf(spark):
    """MIXED regime (exactly one sketch filled, round-10 ADVICE fix): the
    unfilled side retains EVERY hash of its set, so its theta must act as
    +inf — only the FILLED side's theta bounds the retained sample. The
    estimate must equal the definition recomputed from the collected
    sketches: |sk_a ∩ sk_b below theta_filled| * 2^64 div theta_u, and the
    retained sample must be every common value below the filled theta (the
    pre-fix min(ta, tb) bound dropped common values between the two
    thetas)."""
    from real_time_rides_data_pipeline_spark.operators import kmv

    k = 64
    big = spark.range(0, 5_000)     # fills at k=64
    small = spark.range(0, 40)      # unfilled: subset of big, 40 < k
    sk_big = kmv.kmv_sketch(big, "id", k=k)
    sk_small = kmv.kmv_sketch(small, "id", k=k)
    vb = sorted(r["v"] for r in sk_big.collect())
    vs = sorted(r["v"] for r in sk_small.collect())
    assert len(vb) == k and len(vs) == 40
    theta = vb[-1]
    m = len({v for v in vs if v in set(vb) and v < theta})
    want = m * 2**64 // (theta + 2**63)
    got = kmv.kmv_intersect_estimate(sk_small, sk_big, k=k).collect()[0][
        "est"
    ]
    assert got == want, (got, want, m)
    # and symmetric
    got_rev = kmv.kmv_intersect_estimate(sk_big, sk_small, k=k).collect()[
        0
    ]["est"]
    assert got_rev == want


def test_scoped_writer_session_isolates_conf(spark):
    """session.scoped_writer_session: the clone must carry the parent's
    determinism confs (runtime-set nanosAsLong included), pin its own
    shuffle width, and NEVER leak that width back to the parent."""
    from real_time_rides_data_pipeline_spark.session import (
        scoped_writer_session,
    )

    parent_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    clone = scoped_writer_session(spark, shuffle_partitions=7)
    assert clone.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_width
    assert clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert clone.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )
    # shared context, isolated SQLConf — a further set on the clone must
    # not appear on the parent either
    clone.conf.set("spark.sql.shuffle.partitions", "3")
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_width


def test_warehouse_keys_sf01_oracle_parity(spark, duck):
    """Round-10 de-risk (verdict task 6) for the three round-9 warehouse
    keys entering their FIRST driver window: ISO-week truncation,
    interval islands and day//7 offsets are classic cross-engine drift
    points that only show up when the date range widens — so check oracle
    parity at sf0.1 (10× the rows and a longer event-time span than the
    sf0.01 harness gate), not just sf0.01."""
    from real_time_rides_data_pipeline_spark.queries import registry

    from tests.oracle_harness import compare

    con = duck("/root/testdata/sf0.1")
    for key in ("q_scd2_intervals", "q_funnel_paths", "q_retention_cohorts"):
        spec = registry()[key]
        df = spec.fn(spark, "/root/testdata/sf0.1")
        problems = compare(df, con, spec.oracle, key)
        assert not problems, "\n".join(problems)
