#!/usr/bin/env python
"""Driver-faithful oracle check of registry keys at sf_dir.

Usage: python scripts/check_keys.py [KEYS|window|all] [sf_dir]

  KEYS    comma list of registry keys
  window  the first 50 keys of ``__spark_entry__.queries()``, the
          check-priority window the driver oracle-checks (default)
  all     every key of ``__spark_entry__.queries()``

Replays what the driver does: a FRESH VANILLA SparkSession (no
session-factory configs — the package must self-configure), each key's
``queries()`` leg compared against its ``oracle_sql()`` leg through the
test harness comparator, at sf_dir (default sf0.01, the driver's t2
gate). Keys without an oracle run a rows-only count, the same weaker
check the driver records. A key that raises is reported and the sweep
goes on. Prints one ``SUMMARY green= rows_only= fail=`` line and exits
non-zero when any key fails.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from real_time_rides_data_pipeline_spark.schemas import FIXTURE_TABLES
    from tests.oracle_harness import compare

    which = sys.argv[1] if len(sys.argv) > 1 else "window"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    qs, osql = e.queries(), e.oracle_sql()
    if which == "window":
        keys = list(qs)[:50]
    elif which == "all":
        keys = list(qs)
    else:
        keys = which.split(",")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    green = rows_only = fail = 0
    for key in keys:
        t0 = time.time()
        try:
            df = qs[key](spark, sf)
            if key not in osql:
                n = df.count()
                rows_only += 1
                print(f"{key} rows-only n={n} {time.time() - t0:.1f}s", flush=True)
                continue
            problems = compare(df, con, osql[key], key)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            fail += 1
            print(f"{key} ERROR {repr(ex)[:300]}", flush=True)
            continue
        if problems:
            fail += 1
            print(f"{key} MISMATCH", flush=True)
            for p in problems:
                print("   ", p, flush=True)
        else:
            green += 1
            print(f"{key} MATCH {time.time() - t0:.1f}s", flush=True)
    print(f"SUMMARY green={green} rows_only={rows_only} fail={fail}", flush=True)
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
