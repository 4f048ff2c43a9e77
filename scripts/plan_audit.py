#!/usr/bin/env python
"""Round-15 optimization plan audit.

Builds every registered query's DataFrame (lazy for batch keys; streaming
keys execute their replay as usual), captures ``explain("formatted")``
output, and writes a per-key plan file plus one JSON summary of plan-shape
stats: Exchange count, scan count per parquet location, join strategies,
Python-boundary nodes, Generate (explode) count, and df build seconds.

Usage:
    python scripts/plan_audit.py [out_dir] [key_prefix_filter ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from bench import CPUS, SF_DIR, release_persisted  # noqa: E402

JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonMapInArrow",
)


def formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def summarize(plan: str) -> dict:
    s: dict = {}
    s["n_exchange"] = len(re.findall(r"\bExchange\b", plan))
    # Scan locations: "Location: InMemoryFileIndex [...path...]"
    locs = re.findall(r"Location:.*?\[(.*?)[\],]", plan)
    scans: dict[str, int] = {}
    for loc in locs:
        short = "/".join(loc.rstrip("/").split("/")[-2:])
        scans[short] = scans.get(short, 0) + 1
    s["scans"] = scans
    s["n_scan"] = len(re.findall(r"\bScan (parquet|text|csv|orc|json|ExistingRDD)", plan))
    s["joins"] = {j: plan.count(j) for j in JOIN_NODES if j in plan}
    s["py_nodes"] = {p: plan.count(p) for p in PY_NODES if p in plan}
    s["n_generate"] = len(re.findall(r"\bGenerate\b", plan))
    s["n_sort"] = len(re.findall(r"^\(\d+\) Sort\b", plan, re.M))
    s["n_window"] = len(re.findall(r"\bWindow\b", plan))
    s["n_agg"] = len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan))
    s["aqe"] = "AdaptiveSparkPlan" in plan
    return s


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO_DIR, "plans", "r15", "audit"
    )
    prefixes = sys.argv[2:]
    os.makedirs(out_dir, exist_ok=True)

    from real_time_rides_data_pipeline_spark.session import get_spark
    from real_time_rides_data_pipeline_spark.queries import registry

    spark = get_spark(app_name="plan_audit", cpus=CPUS)
    specs = registry()

    summary: dict[str, dict] = {}
    for key in sorted(specs):
        if prefixes and not any(key.startswith(p) for p in prefixes):
            continue
        spark.sparkContext.setJobDescription(f"audit:{key}")
        t0 = time.perf_counter()
        try:
            df = specs[key].fn(spark, SF_DIR)
            build_s = time.perf_counter() - t0
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001
            summary[key] = {"error": f"{type(e).__name__}: {e}"[:300]}
            continue
        with open(os.path.join(out_dir, f"{key}.txt"), "w") as f:
            f.write(plan)
        s = summarize(plan)
        s["build_s"] = round(build_s, 3)
        summary[key] = s
        release_persisted(spark)

    with open(os.path.join(out_dir, "_summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    # Console digest: keys whose plan scans one relation multiple times.
    multi = {
        k: v["scans"]
        for k, v in summary.items()
        if "scans" in v and any(c >= 2 for c in v["scans"].values())
    }
    print(json.dumps({"multi_scan_keys": multi}, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
