"""Custom stateful streaming operator: per-key running statistics via
``applyInPandasWithState`` (SURVEY.md §2.6 extension).

The reference's only stateful ops are dropDuplicates and the windowed
aggregate (both built-in). This operator is the general-purpose escape
hatch Spark offers when built-ins can't express the state machine:
arbitrary per-key state (here: running count / exact-cents spend / max /
latest-event pointer), Arrow-batched per group, with watermark-driven
timeouts available for state expiry.

Scale notes: state lives in the state store (RocksDB per session.py —
off-heap, incremental checkpoints), partitioned by the grouping key; the
Python worker sees one key's rows per call, Arrow-transferred. At 100 TB
of *throughput* this is fine (state size is bounded by |keys|); the thing
to never do is put unbounded per-key history in the state value.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_STATS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_spend", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("last_event_id", T.LongType()),
    ]
)

#: (count, spend_cents, max_value, last_ts_us, last_event_id)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
        T.StructField("maxv", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
    ]
)


def _update_running_stats(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State update function: fold this batch's rows for one key into the
    running (n, cents, max, latest) tuple and emit the updated row."""
    if state.exists:
        n, cents, maxv, last_us, last_id = state.get
    else:
        n, cents, maxv, last_us, last_id = 0, 0, float("-inf"), -1, -1
    for pdf in pdfs:
        if pdf.empty:
            continue
        n += len(pdf)
        # exact integer cents — summation-order independent (SURVEY §7.4)
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        maxv = max(maxv, float(pdf["value"].max()))
        # normalize to integer µs regardless of pandas datetime resolution
        us = pdf["ts"].astype("datetime64[us]").astype("int64")
        # latest event = lexicographic max of (ts_us, event_id)
        batch_best = max(zip(us, pdf["event_id"].astype("int64")))
        if batch_best > (last_us, last_id):
            last_us, last_id = int(batch_best[0]), int(batch_best[1])
    state.update((n, cents, maxv, last_us, last_id))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_spend": [cents / 100.0],
            "max_value": [maxv],
            "last_event_id": [last_id],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running stats over a stream of (user_id, ts, event_id, value).

    Streaming: each micro-batch emits updated rows for the keys it touched
    (``update`` output mode; pair with a keyed MERGE sink for a queryable
    latest-state table). Batch: same call works — one "batch" of all rows.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running_stats,
        outputStructType=RUNNING_STATS_OUTPUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- transformWithState (Spark 4.x successor API) --------------------------

try:  # pragma: no cover - requires Spark >= 4.0 AND protobuf (the state
    # server speaks protobuf; without it the TWS driver worker crashes)
    import google.protobuf.descriptor  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    HAVE_TWS = True
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]
    HAVE_TWS = False

TOPK_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("top1_value", T.DoubleType()),
        T.StructField("top1_event_id", T.LongType()),
        T.StructField("top2_value", T.DoubleType()),
    ]
)

#: (n, cents1, id1, val1, cents2, id2, val2) — top-2 ordered by (cents, id).
_TOPK_STATE = (
    "n long, c1 long, id1 long, v1 double, c2 long, id2 long, v2 double"
)


class TopValuesProcessor(StatefulProcessor):
    """Per-key running top-2 values + event count via the
    ``transformWithStateInPandas`` API (Spark 4's arbitrary-state successor
    to ``applyInPandasWithState``): typed ValueState handles, explicit
    ``init``/``handleInputRows``/``close`` lifecycle, optional timers/TTL.

    Ranking compares ``(cents, event_id)`` so 2-dp ties break identically
    everywhere; the RAW double value is carried through state (never
    reconstructed from cents) so emitted values are bit-identical to the
    input column."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("topk", _TOPK_STATE)

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            n, c1, id1, v1, c2, id2, v2 = self._state.get()
        else:
            n, c1, id1, v1, c2, id2, v2 = 0, -1, -1, None, -1, -1, None
        for pdf in rows:
            if pdf.empty:
                continue
            n += len(pdf)
            cents = pdf["value"].mul(100).round().astype("int64")
            ids = pdf["event_id"].astype("int64")
            vals = pdf["value"].astype("float64")
            for c, i, v in zip(cents, ids, vals):
                c, i, v = int(c), int(i), float(v)
                if (c, i) > (c1, id1):
                    c2, id2, v2 = c1, id1, v1
                    c1, id1, v1 = c, i, v
                elif (c, i) > (c2, id2):
                    c2, id2, v2 = c, i, v
        self._state.update((n, c1, id1, v1, c2, id2, v2))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "top1_value": [v1],
                "top1_event_id": [id1 if id1 >= 0 else None],
                "top2_value": [v2],
            }
        )

    def close(self) -> None:
        pass


def running_top_values(events: DataFrame) -> DataFrame:
    """Per-user top-2 tracker over (user_id, event_id, value) rows —
    streaming or batch, update-mode emissions per touched key."""
    if not HAVE_TWS:  # pragma: no cover
        raise NotImplementedError("transformWithState requires Spark >= 4.0")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopValuesProcessor(),
        outputStructType=TOPK_OUTPUT,
        outputMode="Update",
        timeMode="None",
    )


# --- order-sensitive stateful operator: decayed scores with corrections ----

DECAYED_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("decayed", T.LongType()),
    ]
)

#: per-key event history sorted by (ts_us, event_id) — parallel arrays
_DECAYED_STATE = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("eid", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
    ]
)

#: Taps of the dyadic decay. ``queries_analytics`` imports it for the
#: batch lag-window leg and the oracle SQL of ``q_decayed_sum`` /
#: ``q_stream_decayed``: stream≡batch holds only while both use one value.
_DECAY_TAPS = 16


def _update_decayed(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """ORDER-SENSITIVE state update with bounded corrections.

    The decayed score of an event depends on its 15 predecessors in
    event-time order, but micro-batches deliver events in ARRIVAL order —
    a later batch can insert an event before already-scored ones. The
    fold therefore (1) merges the batch into the per-key history sorted
    by (ts, event_id), (2) re-emits the score of every event whose 16-tap
    window contains an inserted position — at most |batch| + 15 rows, the
    correction bound — and the keyed latest-wins MERGE sink converges to
    the batch answer under ANY batch split/order.

    State here is the full per-key history because the file-replay twin
    has no watermark; the production contract is watermark pruning: an
    event is SETTLED (immutable score, safe to drop after keeping the 15
    trailing entries as future predecessors) once the watermark passes
    its event time, so state is bounded by per-key event rate x allowed
    lateness + 15 — never unbounded.
    """
    if state.exists:
        ts_us, eid, cents = (list(a) for a in state.get)
    else:
        ts_us, eid, cents = [], [], []
    rows = []
    for pdf in pdfs:
        if pdf.empty:
            continue
        us = pdf["ts"].astype("datetime64[us]").astype("int64")
        rows += list(
            zip(
                (int(x) for x in us),
                (int(x) for x in pdf["event_id"].astype("int64")),
                (int(x) for x in pdf["value"].mul(100).round().astype("int64")),
            )
        )
    if not rows:
        return
    merged = sorted(zip(ts_us, eid, cents))
    new = sorted(rows)
    inserted_keys = {(t, e) for t, e, _ in new}
    # set-dedup makes redelivered rows (foreachBatch is at-least-once)
    # idempotent: a replayed event merges to the same history and just
    # re-emits the same scores
    merged = sorted(set(merged) | set(new))
    ts_us = [t for t, _, _ in merged]
    eid = [e for _, e, _ in merged]
    cents = [c for _, _, c in merged]
    state.update((ts_us, eid, cents))
    # affected = any position whose window [p-15, p] contains an insert
    ins = [i for i, (t, e, _) in enumerate(merged) if (t, e) in inserted_keys]
    affected: set[int] = set()
    for q in ins:
        affected.update(range(q, min(q + _DECAY_TAPS, len(merged))))
    out_eid, out_dec = [], []
    for p in sorted(affected):
        s = 0
        for j in range(min(_DECAY_TAPS, p + 1)):
            s += cents[p - j] * (1 << (_DECAY_TAPS - 1 - j))
        out_eid.append(eid[p])
        out_dec.append(s)
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_eid),
            "event_id": out_eid,
            "decayed": out_dec,
        }
    )


def running_decayed_scores(events: DataFrame) -> DataFrame:
    """Per-user exponentially-decayed score stream over (user_id, ts,
    event_id, value) — the streaming twin of the batch 16-tap dyadic
    decayed counter (queries_analytics.q_decayed_sum). Update-mode
    emissions are (user_id, event_id, decayed) rows including CORRECTIONS
    for previously-emitted events whose window a late arrival changed;
    pair with a latest-wins MERGE on event_id."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_decayed,
        outputStructType=DECAYED_OUTPUT,
        stateStructType=_DECAYED_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
