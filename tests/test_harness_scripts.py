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


def _package_sources() -> dict[str, str]:
    import real_time_rides_data_pipeline_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    out = {}
    for path in sorted(glob.glob(f"{pkg_dir}/**/*.py", recursive=True)):
        with open(path) as f:
            out[os.path.relpath(path, REPO_DIR)] = f.read()
    return out


def test_package_carries_no_scale_claims_or_round_history():
    """Docstrings, comments and registry descriptions state what the code
    does at the sizes it is measured at, and the constraints a reader
    needs — not unmeasured data sizes or which round changed what."""
    import re

    round_re = re.compile(r"\b[Rr]ound[- ]\d+")
    hits = []
    for rel, src in _package_sources().items():
        for n, line in enumerate(src.splitlines(), 1):
            if "100 TB" in line or round_re.search(line):
                hits.append(f"{rel}:{n}: {line.strip()}")
    assert hits == [], "\n".join(hits)


def test_every_package_function_has_a_caller():
    """Every undecorated top-level function of the non-query modules is
    referenced by name outside its own body — in the package, tests/,
    perfbench/, scripts/, bench.py or __spark_entry__.py. ``__all__``
    strings and bare re-exports do not count as references."""
    import ast
    import collections

    def names(tree):
        renamed = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                yield n.id
                if n.id in renamed:
                    yield renamed[n.id]
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    yield n.value

    package = _package_sources()
    others = [os.path.join(REPO_DIR, f) for f in ("bench.py", "__spark_entry__.py")]
    for sub in ("tests", "perfbench", "scripts"):
        others += glob.glob(os.path.join(REPO_DIR, sub, "**", "*.py"), recursive=True)
    sources = dict(package)
    for path in others:
        with open(path) as f:
            sources[os.path.relpath(path, REPO_DIR)] = f.read()

    refs = collections.Counter()
    candidates = []
    for rel, src in sources.items():
        tree = ast.parse(src)
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                node.value = ast.Constant(None)
        refs.update(names(tree))
        if rel in package and not os.path.basename(rel).startswith("queries"):
            for node in tree.body:
                if (
                    isinstance(node, ast.FunctionDef)
                    and not node.decorator_list
                    and not node.name.startswith("__")
                ):
                    own = collections.Counter(names(node))[node.name]
                    candidates.append((rel, node.name, own))
    uncalled = [f"{rel}:{name}" for rel, name, own in candidates if refs[name] <= own]
    assert uncalled == [], uncalled
