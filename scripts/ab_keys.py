"""Targeted A/B timer: min-of-N for a few keys (VERDICT r11 item 1 —
attribute driver-bench movements to code or host).

Usage: python scripts/ab_keys.py <comma_keys> [reps]
Times the code of the checkout this script lives in: bench.py's warm-up
plus ``reps`` interleaved passes (pass = each key once) inside ONE
session, and prints one JSON line of min/all timings. To compare two
checkouts, run each checkout's own copy of this script, alternating
between them; the process-level interleave cancels sustained host stalls
the same way bench.py's two passes do.
"""

from __future__ import annotations

import json
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from bench import CPUS, SF_DIR, timed_passes  # noqa: E402


def main() -> None:
    keys = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from real_time_rides_data_pipeline_spark.session import get_spark
    from real_time_rides_data_pipeline_spark.queries import registry

    spark = get_spark(app_name="ab_keys", cpus=CPUS)
    passes = timed_passes(spark, registry(), keys, SF_DIR, reps)
    passes = {k: [round(t, 4) for t in v] for k, v in passes.items()}
    print(json.dumps({
        "repo": REPO_DIR,
        "min": {k: min(v) for k, v in passes.items()},
        "all": passes,
    }))


if __name__ == "__main__":
    main()
