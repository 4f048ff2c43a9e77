"""Process-scoped scratch directories.

Every registered query that stages replay inputs, sink state, or format
round-trip files allocates its directory here instead of calling
``tempfile.mkdtemp`` directly; ONE atexit hook removes everything when
the process exits. Memoized stages (``_REPLAY_INPUTS`` and friends) stay
valid for the whole process lifetime — cleanup never runs mid-session —
but long bench/driver/pytest sessions no longer accrete hundreds of /tmp
directories across runs.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with process-exit cleanup registration."""
    d = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append(d)
    return d


@atexit.register
def _cleanup() -> None:  # pragma: no cover - exercised at interpreter exit
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)
