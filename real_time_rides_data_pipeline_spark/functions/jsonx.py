"""JSON extraction expressions (semi-structured props columns).

``get_json_object`` for ad-hoc single-path extraction; ``from_json`` with an
explicit schema (operators/parse.py) when the whole payload is consumed —
one parse instead of N path probes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_get(col: Column, path: str) -> Column:
    """Extract one JSON path as string (NULL if absent/malformed)."""
    return F.get_json_object(col, f"$.{path}")


def json_get_int(col: Column, path: str) -> Column:
    return json_get(col, path).cast("int")
