#!/usr/bin/env python
"""In-process interleaved A/B: the CC narrow_loop_session clone ON vs OFF.

Round-16 VERDICT item 1: q_semdedup read 10.6 s (c32) / 10.3 s (c8) in
both driver runs vs 6.59 s in round 14; prime suspect is the
per-invocation session clone (session.narrow_loop_session, called from
operators/graph.py:_cc_star). This
script runs the REAL registered queries (q_semdedup,
q_minhash_cc_clusters, q_dup_clusters) exactly the way bench.py does
(full fn from the registry, noop sink, unpersist-all after each), and
alternates graph._NARROW_LOOP_EDGES between its pinned value (clone ON
for small graphs) and 0 (clone OFF — plain parent-session loop).
Alternation granularity is one key run (~seconds), so host stalls hit
both variants; min-of-N per variant cancels the rest.
"""

from __future__ import annotations

import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
REPS = int(os.environ.get("REPS", 4))
KEYS = os.environ.get(
    "KEYS", "q_semdedup,q_minhash_cc_clusters,q_dup_clusters"
).split(",")


def main() -> None:
    from real_time_rides_data_pipeline_spark.operators import graph
    from real_time_rides_data_pipeline_spark.queries import registry
    from real_time_rides_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ab_cc_clone", cpus=CPUS)
    sc = spark.sparkContext
    specs = registry()
    clone_threshold = graph._NARROW_LOOP_EDGES

    def unpersist_all():
        jm = sc._jsc.getPersistentRDDs()
        if jm.size():
            it = jm.entrySet().iterator()
            while it.hasNext():
                it.next().getValue().unpersist(False)

    # Warmup (bench.py protocol).
    specs["q_window_hourly_agg"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    unpersist_all()

    times: dict[tuple[str, str], list[float]] = {}
    for rep in range(REPS):
        for variant, thresh in (("clone", clone_threshold), ("parent", 0)):
            graph._NARROW_LOOP_EDGES = thresh
            for key in KEYS:
                sc.setJobDescription(f"{key}[{variant}]")
                t0 = time.perf_counter()
                specs[key].fn(spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                unpersist_all()
                times.setdefault((key, variant), []).append(dt)
                print(f"rep{rep} {variant:6s} {key}: {dt:6.2f} s", flush=True)
    graph._NARROW_LOOP_EDGES = clone_threshold
    print("\nmins:")
    for (key, variant), v in sorted(times.items()):
        print(
            f"{key:24s} {variant:6s}: {min(v):6.2f} s  "
            f"(all {[round(x, 2) for x in v]})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
