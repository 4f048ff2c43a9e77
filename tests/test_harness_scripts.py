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


def _caller_sources() -> dict[str, str]:
    """The package plus every place that may call it: tests/, perfbench/,
    scripts/, bench.py and __spark_entry__.py."""
    sources = _package_sources()
    others = [os.path.join(REPO_DIR, f) for f in ("bench.py", "__spark_entry__.py")]
    for sub in ("tests", "perfbench", "scripts"):
        others += glob.glob(os.path.join(REPO_DIR, sub, "**", "*.py"), recursive=True)
    for path in others:
        with open(path) as f:
            sources[os.path.relpath(path, REPO_DIR)] = f.read()
    return sources


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
    sources = _caller_sources()

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


#: Defaulted parameters that keep one value yet stay settable, with why.
ONE_VALUE_OPTIONS = {
    ("pipeline.py", "run_streaming_silver", "trigger_seconds"): (
        "perfbench/medallion.py passes trigger_seconds=None by keyword"
    ),
    ("pipeline.py", "run_streaming_gold", "trigger_seconds"): (
        "perfbench/medallion.py passes trigger_seconds=None by keyword"
    ),
}


def test_every_package_option_takes_two_values():
    """Every defaulted parameter of a top-level package function (query
    keys ``q_*`` aside) is set to a value other than its default by some
    call, by position or keyword, comparing source text. A ``*args`` or
    ``**kwargs`` call counts as setting every parameter. A parameter that
    only ever takes its default is a constant."""
    import ast
    import collections

    package = _package_sources()
    trees = {rel: ast.parse(src) for rel, src in _caller_sources().items()}
    calls = collections.defaultdict(list)
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                calls[name].append(n)

    def varied(fn, name, index, default):
        for c in calls[fn]:
            if any(isinstance(a, ast.Starred) for a in c.args) or any(
                k.arg is None for k in c.keywords
            ):
                return True
            passed = [ast.unparse(k.value) for k in c.keywords if k.arg == name]
            if index is not None and index < len(c.args):
                passed.append(ast.unparse(c.args[index]))
            if any(v != default for v in passed):
                return True
        return False

    one_value = []
    for rel in package:
        for node in trees[rel].body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("q_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
            params = [(arg.arg, i, d) for i, (arg, d) in enumerate(zip(pos, defaults)) if d]
            params += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for name, index, default in params:
                key = (os.path.basename(rel), node.name, name)
                if key in ONE_VALUE_OPTIONS:
                    continue
                if not varied(node.name, name, index, ast.unparse(default)):
                    one_value.append(f"{rel}:{node.name}({name}={ast.unparse(default)})")
    assert one_value == [], f"{len(one_value)} one-value options:\n" + "\n".join(one_value)


def test_query_modules_leave_input_staging_to_the_helpers():
    """Query modules stage replay inputs and layouts only through
    ``streaming.replay.stage_batches`` and ``scratch.staged``: no
    hand-set mtimes, no pyarrow side-writes, no private replay memo, and
    no module-level memo container."""
    import ast

    hits = []
    for rel, src in _package_sources().items():
        if not os.path.basename(rel).startswith("queries"):
            continue
        tree = ast.parse(src)
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "utime"
            ):
                hits.append(f"{rel}:{n.lineno}: os.utime")
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                mods = [a.name for a in n.names]
                if isinstance(n, ast.ImportFrom):
                    mods = [n.module or ""] + [f"{n.module}.{m}" for m in mods]
                if "pyarrow.parquet" in mods:
                    hits.append(f"{rel}:{n.lineno}: imports pyarrow.parquet")
            names = {getattr(n, "id", None), getattr(n, "attr", None)}
            if isinstance(n, ast.alias):
                names |= {n.name, n.asname}
            if names & {"_replay_input", "_REPLAY_INPUTS"}:
                hits.append(f"{rel}:{getattr(n, 'lineno', 0)}: private replay memo")
        for node in tree.body:
            value = getattr(node, "value", None)
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and (
                (isinstance(value, ast.Dict) and not value.keys)
                or (isinstance(value, (ast.List, ast.Set)) and not value.elts)
                or (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id in ("dict", "list", "set")
                    and not value.args
                )
            ):
                hits.append(f"{rel}:{node.lineno}: module-level memo container")
    assert hits == [], "\n".join(hits)


#: Query keys that open a staged replay without ``replay_stream``, with why.
OWN_REPLAY_KEYS = {
    "q_stream_stream_join": "reads both staged files in one micro-batch "
    "(maxFilesPerTrigger=2)",
    "q_stream_restart_recovery": "writes input while the query is down",
    "q_stream_restart_evolve": "writes input while the query is down",
}


def test_query_modules_open_staged_streams_through_replay_stream():
    """Query keys open a staged replay only through
    ``streaming.replay.replay_stream``: no ``stage_batches``,
    ``parquet_stream`` or ``scoped_writer_session`` call in a
    ``queries*.py`` module outside the keys in ``OWN_REPLAY_KEYS``."""
    import ast

    glue = {"stage_batches", "parquet_stream", "scoped_writer_session"}
    hits, exempt_used = [], set()
    for rel, src in _package_sources().items():
        if not os.path.basename(rel).startswith("queries"):
            continue
        for top in ast.parse(src).body:
            owner = getattr(top, "name", None)
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                if name not in glue:
                    continue
                if owner in OWN_REPLAY_KEYS:
                    exempt_used.add(owner)
                else:
                    hits.append(f"{rel}:{n.lineno}: {owner}: {name}(")
    assert hits == [], "\n".join(hits)
    assert exempt_used == set(OWN_REPLAY_KEYS)
