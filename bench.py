#!/usr/bin/env python
"""Benchmark harness — times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": <float>}

Each query is forced end-to-end with the ``noop`` sink (full plan execution,
no driver collect — measures the engine, not result serialization). A warmup
query amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def release_persisted(spark) -> None:
    """Unpersist every persistent RDD in the process.

    Frees the localCheckpoint RDDs a query pinned (embed_neardup,
    mad_outlier, pmi_bigrams, bloom_decontaminate, ...): without this
    every invocation leaks pinned blocks and two full passes accumulate
    dozens — measured 2026-08-14: q_struct_star 1.20s in a leaking
    158-key suite vs 0.38s with per-key cleanup.

    CONSTRAINT: this drops EVERY persistent RDD in the process, so no
    cross-invocation cache may ever memoize a localCheckpoint'd /
    persisted DataFrame (truncated lineage + evicted blocks =
    unrecoverable on reuse). The only input memo is ``scratch.staged``,
    and it holds only directory paths — keep it that way, or snapshot
    RDD ids before the run and unpersist only the new ones. (Result
    memos of any kind are banned outright — see
    tests/test_ml.py::test_fit_helpers_have_no_memo.)
    """
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    if jm.size():
        it = jm.entrySet().iterator()
        while it.hasNext():
            it.next().getValue().unpersist(False)


def run_key(spark, df) -> None:
    """Force ``df`` end-to-end through the ``noop`` sink, then release
    whatever it pinned."""
    df.write.format("noop").mode("overwrite").save()
    release_persisted(spark)


def timed_passes(
    spark, specs, keys, sf_dir: str, reps: int
) -> dict[str, list[float]]:
    """Warm up on ``q_window_hourly_agg`` (JVM JIT + codegen + parquet
    footer caches), then time ``reps`` INTERLEAVED passes over ``keys``
    (a pass runs each key once). Returns the seconds of each pass per key.

    Back-to-back per-key reps share any sustained host stall window
    (measured 2026-08-14 on a shared host: q_embed_neardup 5→33 s
    across full runs with zero code change — both adjacent reps inside
    the window, so plain min-of-2 kept 33 s); a key's passes here run
    minutes apart, so a stall window hits different keys in each pass and
    the min cancels it (min is safe under additive noise — it never
    underestimates). Total cost identical to per-key min-of-N."""
    run_key(spark, specs["q_window_hourly_agg"].fn(spark, sf_dir))
    passes: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(reps):
        for key in keys:
            t0 = time.perf_counter()
            run_key(spark, specs[key].fn(spark, sf_dir))
            passes[key].append(time.perf_counter() - t0)
    return passes


def main() -> None:
    from real_time_rides_data_pipeline_spark.session import get_spark
    from real_time_rides_data_pipeline_spark.queries import registry

    spark = get_spark(app_name="bench", cpus=CPUS)
    specs = registry()

    # Fail FAST if a headline-flagship key was renamed/removed — before the
    # multi-minute timing loop, not at the final print.
    flagship = ["q_window_hourly_agg", "q_pipeline_e2e"]
    missing = [k for k in flagship if k not in specs]
    assert not missing, f"flagship keys missing from registry: {missing}"

    passes = timed_passes(spark, specs, sorted(specs), SF_DIR, reps=2)
    # Targeted third rep where the two passes STILL disagree >2× on a
    # non-trivial key (stall window spanned both passes for that key).
    for key in sorted(specs):
        reps = passes[key]
        if min(reps) > 1.0 and max(reps) > 2.0 * min(reps):
            t0 = time.perf_counter()
            run_key(spark, specs[key].fn(spark, SF_DIR))
            reps.append(time.perf_counter() - t0)
    timings = {k: round(min(v), 4) for k, v in passes.items()}

    total = round(sum(timings.values()), 4)
    sf = sf_from_dir(SF_DIR)
    # Full per-key detail goes to BENCH.json; stdout gets ONE COMPACT line.
    # The round driver keeps only a ~4 KB tail of stdout — a line carrying all
    # ~100 keys exceeds that and fails to parse (BENCH_r01/r02: parsed null) —
    # so the printed "queries" dict is capped to the headline keys.
    with open(os.path.join(REPO_DIR, "BENCH.json"), "w") as f:
        json.dump(
            {
                "metric": "total_wall_clock_all_queries",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": CPUS,
                "n_queries": len(timings),
            },
            f,
            indent=1,
            sort_keys=True,
        )
    # Headline = flagship (existence asserted above) + the N most expensive
    # keys, DERIVED from the measured timings (a hardcoded list silently
    # drops renamed/removed keys).
    by_cost = sorted(timings, key=timings.get, reverse=True)
    headline = flagship + [k for k in by_cost if k not in flagship][:25]
    print(
        json.dumps(
            {
                "metric": "total_wall_clock_all_queries",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in headline},
                "sf": sf,
                "n_queries": len(timings),
                "detail": "BENCH.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
