"""The measurement and oracle-check scripts: one unpersist loop (in
bench.py) and one driver-faithful oracle checker (scripts/check_keys.py).

``bench.run_key`` / ``bench.release_persisted`` are never called here:
both drop every persistent RDD in the process, the localCheckpoint'd
fixtures of other tests included."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

from tests.conftest import REPO_DIR, SMOKE_SF

CHECK_KEYS = os.path.join(REPO_DIR, "scripts", "check_keys.py")


def _check_keys(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, CHECK_KEYS, *args],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO_DIR,
    )


def test_unpersist_loop_lives_only_in_bench():
    files = [os.path.join(REPO_DIR, "bench.py")] + sorted(
        glob.glob(os.path.join(REPO_DIR, "scripts", "*.py"))
    )
    holders = []
    for path in files:
        with open(path) as f:
            if "getPersistentRDDs" in f.read():
                holders.append(os.path.relpath(path, REPO_DIR))
    assert holders == ["bench.py"], holders


def test_check_keys_reports_match_and_rows_only():
    r = _check_keys("q_agg_count,q_pca_project", SMOKE_SF)
    assert r.returncode == 0, r.stdout + r.stderr
    lines = r.stdout.splitlines()
    assert any(ln.startswith("q_agg_count MATCH") for ln in lines), r.stdout
    assert any(ln.startswith("q_pca_project rows-only") for ln in lines), r.stdout
    assert "SUMMARY green=1 rows_only=1 fail=0" in lines, r.stdout


def test_check_keys_fails_on_unregistered_key():
    r = _check_keys("q_no_such_key", SMOKE_SF)
    assert r.returncode != 0, r.stdout + r.stderr
    assert "SUMMARY green=0 rows_only=0 fail=1" in r.stdout.splitlines(), r.stdout
