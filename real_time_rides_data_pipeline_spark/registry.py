"""Query registry plumbing shared by queries.py (core) and queries_ext.py
(LLM-data-pipeline extensions). Keys and semantics: SURVEY.md §2."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from real_time_rides_data_pipeline_spark.plans import ensure_parallelism
from real_time_rides_data_pipeline_spark.sources import load_fixture


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(key: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[key] = QuerySpec(key, fn, oracle, doc)
        return fn

    return deco


def registry() -> dict[str, QuerySpec]:
    """All registered queries in registration order (importing the query
    modules as a side effect). The ordering here is the stable public one;
    driver-verification priority is a separate concern — see
    ``check_priority``/``ordered_registry``, applied only at the
    ``__spark_entry__`` boundary."""
    import real_time_rides_data_pipeline_spark.queries  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_analytics  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_curate  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_ext  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_mining  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_ml  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_olap  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_ops  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_scale  # noqa: F401
    import real_time_rides_data_pipeline_spark.queries_tpch  # noqa: F401

    return dict(_REGISTRY)


def _last_checked_rounds(root=None) -> dict[str, int]:
    """Per-key latest driver-check round, read from the committed
    ``CORRECTNESS_r{NN}.json`` files at the repo root. A key appearing in
    round NN's file was in that round's 50-key window; the max round per
    key is its freshness. A check that recorded an error or a mismatch
    does NOT count as checked — such a key must re-enter the window head.
    Missing/unreadable files degrade to "never checked" (registration
    order), never to an exception: the rotation is an ordering hint, not
    a correctness dependency. ``root`` overrides the history directory
    (unit tests inject synthetic histories).

    ``RECHECK.json`` at the same root ({key: round-the-implementation-
    was-rewritten}) extends the failed-check rule to REWRITES: a green
    check attests the code it ran against, so a key rewritten in a LATER
    round than its newest green check reads as never-checked and re-
    enters the window head (a driver check from the same or a later round
    clears the debt automatically)."""
    import json
    from pathlib import Path

    root = Path(root) if root else Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    last_fail: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(p.stem.split("_r")[-1])
            data = json.loads(p.read_text())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for key, rec in data.items():
            if not isinstance(rec, dict):
                continue
            err = rec.get("err")
            # A rows-only (no_oracle) record is green only if it did not
            # record an explicit rows mismatch — history stores
            # rows_match=null for such records today, but a future
            # rows_match=False must re-enter the window head, matching
            # the docstring's "a mismatch does NOT count as checked".
            green = (
                rec.get("rows_match") and rec.get("schema_match")
                and rec.get("hash_match")
            ) or (
                err == "no_oracle" and rec.get("rows_match") is not False
            )
            if err not in (None, "no_oracle") or not green:
                last_fail[key] = max(last_fail.get(key, 0), rnd)
            else:
                last[key] = max(last.get(key, 0), rnd)
    # A key whose LATEST check failed re-enters the window head: an older
    # green must not shield a current breakage from re-verification.
    last = {k: r for k, r in last.items() if last_fail.get(k, 0) <= r}
    # A key REWRITTEN after its newest green check likewise re-enters the
    # head: the stale green attests code that no longer exists.
    recheck: dict[str, int] = {}
    try:
        recheck = {
            k: int(r)
            for k, r in json.loads(
                (root / "RECHECK.json").read_text()
            ).items()
        }
    except (OSError, ValueError, json.JSONDecodeError, AttributeError):
        pass
    return {k: r for k, r in last.items() if recheck.get(k, 0) <= r}


def check_priority(root=None) -> tuple[str, ...]:
    """Driver-verification priority: the round driver oracle-checks only
    the FIRST 50 keys of ``__spark_entry__.queries()``.

    ROTATION SLA:
    the ordering is COMPUTED from the committed ``CORRECTNESS_r*.json``
    history —

    1. never-driver-checked keys first (this round's registrations and
       any key whose latest check failed), in registration order —
       never-checked outranks stale greens;
    2. then every checked key, stalest round first, registration order
       within a round.

    Self-maintaining: when the driver commits ``CORRECTNESS_r{N}.json``,
    the next round's window automatically promotes the freshest debt —
    no per-round tuple edits, no drift between the docstring and the
    list. With W=50 checked per round, R new registrations per round and
    K total keys, every key re-checks within ceil(K/(W-R)) rounds
    (~7 rounds at K=260, R=10); a key is never more than that stale, and
    a FAILED check jumps straight back to the window head. (No per-round
    window composition is stated here on purpose — the list is computed
    and any literal claim goes stale the moment the driver commits the
    next CORRECTNESS file; the invariants above are the contract, and
    tests/test_plans.py::test_check_priority_window asserts them against
    both the live history and synthetic ones.)
    """
    reg_order = list(registry())
    last = _last_checked_rounds(root)
    never = [k for k in reg_order if k not in last]
    pos = {k: i for i, k in enumerate(reg_order)}
    checked = sorted(
        (k for k in reg_order if k in last),
        key=lambda k: (last[k], pos[k]),
    )
    return tuple(never + checked)


def ordered_registry() -> dict[str, QuerySpec]:
    """Registry with ``check_priority`` keys first — the ordering the
    ``__spark_entry__`` driver contract exposes."""
    reg = registry()
    front = {k: reg[k] for k in check_priority() if k in reg}
    rest = {k: v for k, v in reg.items() if k not in front}
    return {**front, **rest}


def _t(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load a fixture table; ``parallel=True`` guards CPU-heavy downstream
    stages (JSON parse, hashing, shingling) against single-partition
    tiny-file scans (plans.shape.ensure_parallelism — no-op at real scale)."""
    df = load_fixture(spark, name, sf_dir)
    return ensure_parallelism(df) if parallel else df
