"""Process-scoped scratch directories, and the one memo of staged inputs.

Every registered query that stages replay inputs, sink state, or format
round-trip files allocates its directory here instead of calling
``tempfile.mkdtemp`` directly; ONE atexit hook removes everything when
the process exits. Input prep that is a pure function of its key (replay
files, hive/bucketed layouts, CSV encodes) goes through ``staged``: it
is written once per process and stays valid for the whole process
lifetime — cleanup never runs mid-session — while long
bench/driver/pytest sessions no longer accrete /tmp directories across
runs.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable

_DIRS: list[str] = []
#: key → staged directory. Paths only, never DataFrames: bench.py's
#: release_persisted drops every persisted RDD between keys.
_STAGED: dict[tuple, str] = {}


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with process-exit cleanup registration."""
    d = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append(d)
    return d


def staged(key: tuple, write: Callable[[str], None]) -> str:
    """Return the directory staged under ``key``. On the first call in the
    process, allocate a scratch directory named after ``key[0]``, call
    ``write(dir)`` to fill it and remember it; later calls return the
    same path without calling ``write``."""
    d = _STAGED.get(key)
    if d is None:
        d = scratch_dir(prefix=f"{key[0]}_")
        write(d)
        _STAGED[key] = d
    return d


@atexit.register
def _cleanup() -> None:  # pragma: no cover - exercised at interpreter exit
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)
