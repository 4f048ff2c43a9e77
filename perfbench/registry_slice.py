"""The ``registry`` workload: a fixed, named slice of the query registry at
sf0.1. Each key is built and then executed (``noop`` sink, then every
persisted RDD unpersisted, as ``bench.py`` does) once per pass, in an order
the seed permutes. Set-up runs one untimed pass (the first, cold one:
JVM warm-up, code generation, first fixture reads); the timed window runs
warm passes until its seconds are spent, at least ``MIN_PASSES``, and
sums over the keys each key's lowest CPU seconds (and, printed beside
them, its lowest wall seconds) over those passes.

Correctness costs no second execution: the executed plan carries an
``observe`` of its row count and an order-independent hash sum, which must
equal the digest in ``oracle_digests.json``. ``make_digests.py`` records
each digest only after that key's collected output matched its registered
DuckDB oracle over the same fixture files.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_rides_data_pipeline_spark.registry import registry
from real_time_rides_data_pipeline_spark.sources import fixtures

from harness import QUERY_MODULES, CpuClock, Outcome, peak_rss_mb, repeat_for

#: ``$SPARK_GRAFT_SF_DIR`` or the package default: the fixture set ``bench.py`` reads
SF_DIR = fixtures.DEFAULT_SF_DIR
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")
#: The medallion flagship (``q_pipeline_e2e`` is left out: it is
#: ``pipeline.batch_pipeline``, which ``backlog`` times as ``batch_s``).
FLAGSHIP = ("q_window_hourly_agg",)
#: A key that starts, drains and stops a Structured Streaming query by hand.
STREAMING = ("q_stream_late_metrics",)
#: Keys under 0.3 s in BENCH.json, one or two from each query module that
#: has any; fixed costs (fixture loads, planning) dominate them.
FAST = (
    "q_validity_filter",
    "q_agg_count",
    "q_ohlc_bars",
    "q_url_extract",
    "q_doc_fingerprint",
    "q_gini_impurity",
    "q_rolling_median",
    "q_percentile_cont",
    "q_posexplode",
    "q_xml_parse",
    "q_listagg",
    "q_bitmap_distinct",
)
SLICE = FLAGSHIP + STREAMING + FAST
#: timed passes per run, at the least
MIN_PASSES = 2


def digest_exprs(df) -> list:
    """Row count and the sum of a 64-bit hash per row, so row order does
    not matter. Floating-point columns are rounded to 6 decimals first."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ]


def execute(spark, df) -> dict:
    """Run ``df`` to the ``noop`` sink, drop every persisted RDD, and return
    the observed digest."""
    obs = Observation()
    df.observe(obs, *digest_exprs(df)).write.format("noop").mode("overwrite").save()
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    if jm.size():
        it = jm.entrySet().iterator()
        while it.hasNext():
            it.next().getValue().unpersist(False)
    got = obs.get
    return {"rows": int(got["rows"]), "hash": str(got["hash"] or 0)}


def run(spark, tracer, work: str, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    if not os.path.isdir(SF_DIR):
        raise FileNotFoundError(f"fixture directory {SF_DIR} is missing")
    with open(DIGESTS) as f:
        expected = json.load(f)
    specs = registry()
    missing = [k for k in SLICE if k not in specs or k not in expected]
    if missing:
        raise KeyError(f"slice keys missing from the registry or the digests: {missing}")
    tracer.wrap_everywhere(fixtures.load_fixture, "load_fixture")

    rng = random.Random(seed)
    cpu = CpuClock(spark)
    digests: list[tuple[str, dict]] = []

    def one_pass(span: str = "registry") -> dict[str, tuple[float, float, float]]:
        """(build s, execute s, CPU s) per key, keys in a seed-permuted order."""
        times = {}
        for key in rng.sample(SLICE, len(SLICE)):
            spec = specs[key]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            c0, t0 = cpu(), time.perf_counter()
            with tracer.span(f"{span}.build", key=key, module=module):
                df = spec.fn(spark, SF_DIR)
            t1 = time.perf_counter()
            with tracer.span(f"{span}.exec", key=key, module=module):
                digests.append((key, execute(spark, df)))
            times[key] = (t1 - t0, time.perf_counter() - t1, cpu() - c0)
        return times

    t_setup = time.perf_counter()
    one_pass("registry.warmup")
    out.setup_s = time.perf_counter() - t_setup

    t_run = time.perf_counter()
    passes = repeat_for(seconds, MIN_PASSES, lambda _: one_pass())
    out.timed_s = time.perf_counter() - t_run
    out.peak_rss_mb = peak_rss_mb(spark)

    for key, got in digests:
        out.check(f"oracle:{key}", got == expected[key], f"{got} vs {expected[key]}")

    def wall(p, k) -> float:
        return p[k][0] + p[k][1]

    def cpu_of(p, k) -> float:
        return p[k][2]

    def fastest(keys, measure) -> float:
        """Sum over ``keys`` of each key's lowest ``measure`` over the passes."""
        return sum(min(measure(p, k) for p in passes) for k in keys)

    batch_keys = [k for k in SLICE if k not in STREAMING]
    out.metrics = {
        "stream_cpu_s": fastest(STREAMING, cpu_of),
        "batch_cpu_s": fastest(batch_keys, cpu_of),
    }
    out.info = {
        "keys": len(SLICE),
        "passes": len(passes),
        "registry_s": fastest(SLICE, wall),
        "stream_s": fastest(STREAMING, wall),
        "batch_s": fastest(batch_keys, wall),
        "stream_s_per_pass": [round(sum(wall(p, k) for k in STREAMING), 3) for p in passes],
        "batch_s_per_pass": [round(sum(wall(p, k) for k in batch_keys), 3) for p in passes],
        "cpu_s_per_pass": [round(sum(cpu_of(p, k) for k in SLICE), 2) for p in passes],
    }
    if tracer.enabled:
        out.layers = layer_metrics(tracer, len(passes))
    return out


def layer_metrics(tracer, passes: int) -> dict[str, float]:
    """Means per timed pass: ``registry.*`` from the spans of the timed
    passes, ``sources.*`` from the fixture loads inside them."""
    build = [s for s in tracer.spans if s["name"] == "registry.build"]
    execs = [s for s in tracer.spans if s["name"] == "registry.exec"]
    t_run = min(s["start"] for s in build)
    loads = [s for s in tracer.spans if s["name"] == "load_fixture" and s["start"] >= t_run]
    layers = {
        "sources.fixture_loads": len(loads),
        "sources.fixture_load_s": sum(s["end"] - s["start"] for s in loads),
        "sources.fixture_jobs": sum(s["jobs"] for s in loads),
        "registry.build_s": sum(s["end"] - s["start"] for s in build),
        "registry.exec_s": sum(s["end"] - s["start"] for s in execs),
        "registry.build_jobs": sum(tracer.jobs_under(s) for s in build),
        "registry.exec_jobs": sum(tracer.jobs_under(s) for s in execs),
    }
    for module in QUERY_MODULES:
        for phase, spans in (("build", build), ("exec", execs)):
            layers[f"registry.{module}.{phase}_s"] = sum(
                s["end"] - s["start"] for s in spans if s["module"] == module
            )
    return {name: float(v) / passes for name, v in layers.items()}
