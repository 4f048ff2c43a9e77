#!/usr/bin/env python
"""Stage-level decomposition of q_semdedup / q_minhash_cc_clusters cost.

Phases (min-of-N reps, interleaved):
  A  pair join -> noop                    (the q_embed_neardup shape)
  B  pair join -> distinct -> eager ckpt  (CC's edge materialization)
  C  _cc_star over materialized edges     (signature + star loop + gate)
  D  vertex join + noop                   (final labeling)
Also counts _signature driver round-trips per _cc_star call.
"""

from __future__ import annotations

import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from bench import CPUS, SF_DIR, release_persisted  # noqa: E402

REPS = int(os.environ.get("REPS", 3))


def main() -> None:
    from pyspark.sql import functions as F

    from real_time_rides_data_pipeline_spark.operators import graph
    from real_time_rides_data_pipeline_spark.operators import similarity as SIM
    from real_time_rides_data_pipeline_spark.queries_ext import (
        _fitted_centroids,
        _minhash_verified_pairs,
        _neardup_docs,
        _t,
    )
    from real_time_rides_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="semdedup_profile", cpus=CPUS)
    sc = spark.sparkContext

    sig_calls = [0]
    orig_sig = graph._signature

    def counting_sig(e):
        sig_calls[0] += 1
        return orig_sig(e)

    graph._signature = counting_sig

    times: dict[str, list[float]] = {}

    def phase(name, fn):
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        times.setdefault(name, []).append(dt)
        print(f"{name:34s} {dt:7.3f} s", flush=True)
        return out

    _t(spark, SF_DIR, "embeddings").count()  # warmup

    for rep in range(REPS):
        print(f"--- rep {rep} ---")
        emb = _t(spark, SF_DIR, "embeddings", parallel=True)
        cents = phase("sd.fit", lambda: _fitted_centroids(emb))
        pp = SIM.cluster_pruned_pairs_above(emb, cents, 0.4).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        phase("sd.A pairjoin noop", lambda: pp.write.format("noop").mode("overwrite").save())
        release_persisted(spark)
        cents = _fitted_centroids(emb)
        pp = SIM.cluster_pruned_pairs_above(emb, cents, 0.4).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        e = pp.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        edges = phase(
            "sd.B edges distinct+ckpt",
            lambda: e.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True),
        )
        sig_calls[0] = 0
        labels = phase("sd.C cc_star(materialized)", lambda: graph._cc_star(edges, 25))
        print(f"   signature calls: {sig_calls[0]}")
        ids = emb.select(F.col("vec_id").alias("id"))
        out = ids.join(labels, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
        phase("sd.D final join noop", lambda: out.write.format("noop").mode("overwrite").save())
        release_persisted(spark)

        mpairs = _minhash_verified_pairs(spark, SF_DIR)
        phase("mh.A verified pairs noop", lambda: mpairs.write.format("noop").mode("overwrite").save())
        release_persisted(spark)
        mp2 = (
            _minhash_verified_pairs(spark, SF_DIR)
            .filter(F.col("is_dup"))
            .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        )
        medges = phase(
            "mh.B edges distinct+ckpt",
            lambda: mp2.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True),
        )
        sig_calls[0] = 0
        mlabels = phase("mh.C cc_star(materialized)", lambda: graph._cc_star(medges, 25))
        print(f"   signature calls: {sig_calls[0]}")
        ids2 = _neardup_docs(spark, SF_DIR).select(F.col("doc_id").alias("id"))
        mout = ids2.join(mlabels, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
        phase("mh.D final join noop", lambda: mout.write.format("noop").mode("overwrite").save())
        release_persisted(spark)

    print("\nmins:")
    for k, v in times.items():
        print(f"{k:34s} {min(v):7.3f} s  (all: {[round(x,2) for x in v]})")
    spark.stop()


if __name__ == "__main__":
    main()
