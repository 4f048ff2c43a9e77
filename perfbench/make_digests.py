#!/usr/bin/env python3
"""Write ``oracle_digests.json`` for the ``registry`` workload.

    python3 perfbench/make_digests.py

For each key of the slice: execute it as the workload does and observe its
digest, then build it again, collect it and compare the rows with the
key's DuckDB oracle over the same fixture files (numbers to 9 significant
digits, rows in any order). A digest is written only for a key whose rows
match; the script exits non-zero if any key does not. Oracles of keys
outside the slice are never run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else float(f"{f:.9g}")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _sorted_rows(names, rows) -> list[tuple]:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def main() -> int:
    from run import pin_host, stop_spark

    work = os.path.join(ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_host(work)
        import duckdb

        from real_time_rides_data_pipeline_spark.registry import registry
        from real_time_rides_data_pipeline_spark.schemas import FIXTURE_TABLES
        from real_time_rides_data_pipeline_spark.session import get_spark

        import registry_slice as rs

        spark = get_spark(app_name="perfbench-digests")
        spark.sparkContext.setLogLevel("ERROR")
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{rs.SF_DIR}/{t}.parquet'")
        specs = registry()
        digests, bad = {}, []
        for key in rs.SLICE:
            spec = specs[key]
            digest = rs.execute(spark, spec.fn(spark, rs.SF_DIR))
            df = spec.fn(spark, rs.SF_DIR)
            got = _sorted_rows(df.columns, df.collect())
            if spec.oracle is None:
                ok = len(got) > 0
            else:
                cur = con.execute(spec.oracle)
                ok = got == _sorted_rows([d[0] for d in cur.description], cur.fetchall())
            print(f"{key:32s} {'match' if ok else 'MISMATCH'} {digest}", flush=True)
            if ok:
                digests[key] = digest
            else:
                bad.append(key)
        stop_spark(spark)
        with open(rs.DIGESTS, "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
