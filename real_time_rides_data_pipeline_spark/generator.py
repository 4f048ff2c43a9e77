"""Seeded ride-event generator — deterministic port of the reference's
producer contract (/root/reference/src/kafka_rides_producer.py:53-90; rates
and distributions per SURVEY.md §1.4 / FIXTURES.md §A.1).

The reference generator is unseeded (non-reproducible); ours takes an
explicit seed so replay tests are exact. Events come back as JSON strings +
a broker-style timestamp — the exact shape the Bronze layer ingests from
Kafka — so the full pipeline can be driven without a broker.

Anomaly injection (the adversarial test oracle, kafka_rides_producer.py:64-78):
- 10% suspicious: duration forced to 30-119 s AND fare 301-1500
- 5% late: event_timestamp pushed 6-10 min before end_time
- 2% duplicates: re-emit one of the previous 10 events verbatim
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta


#: Injection rates of the anomalies listed above.
SUSPICIOUS_RATE = 0.10
LATE_RATE = 0.05
DUPLICATE_RATE = 0.02

#: Broker time of the first event; events follow 0.1-0.5 s apart, the
#: reference's emission sleep.
START = datetime(2024, 1, 1, 0, 0, 0)


@dataclass
class GenConfig:
    seed: int = 42
    n_events: int = 1000
    n_drivers: int = 100


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def generate_events(cfg: GenConfig = GenConfig()) -> list[dict]:
    """Returns a list of dicts: {json: str, timestamp: datetime, _meta...}.

    ``_suspicious``/``_late``/``_duplicate_of`` meta keys let tests assert
    injection rates without re-parsing; the pipeline only sees ``json`` and
    ``timestamp``.
    """
    rng = random.Random(cfg.seed)
    out: list[dict] = []
    recent: list[dict] = []
    wall = START
    for i in range(cfg.n_events):
        wall = wall + timedelta(seconds=rng.uniform(0.1, 0.5))
        if recent and rng.random() < DUPLICATE_RATE:
            src = rng.choice(recent[-10:])
            dup = dict(src)
            dup["_duplicate_of"] = src["_ride_id"]
            dup["timestamp"] = wall
            out.append(dup)
            continue
        ride_id = f"RID{i:05d}"
        driver_id = f"DRV{rng.randint(1, cfg.n_drivers):03d}"
        passenger_id = f"P{rng.randint(1000, 9999)}"
        start_time = wall - timedelta(
            minutes=rng.randint(0, 5), seconds=rng.randint(0, 59)
        )
        end_time = start_time + timedelta(
            minutes=rng.randint(1, 15), seconds=rng.randint(0, 59)
        )
        fare = round(rng.uniform(50.0, 1000.0), 2)
        status = rng.choice(["completed", "cancelled", "started"])
        suspicious = rng.random() < SUSPICIOUS_RATE
        if suspicious:
            end_time = start_time + timedelta(seconds=rng.randint(30, 119))
            fare = round(rng.uniform(301.0, 1500.0), 2)
        late = rng.random() < LATE_RATE
        if late:
            event_timestamp = end_time - timedelta(
                minutes=rng.randint(6, 10)
            )
        else:
            event_timestamp = end_time + timedelta(seconds=rng.randint(-120, 10))
        payload = {
            "ride_id": ride_id,
            "driver_id": driver_id,
            "passenger_id": passenger_id,
            "start_time": _iso(start_time),
            "end_time": _iso(end_time),
            "fare": fare,
            "status": status,
            "event_timestamp": _iso(event_timestamp),
        }
        rec = {
            "json": json.dumps(payload),
            "timestamp": wall,
            "_ride_id": ride_id,
            "_suspicious": suspicious,
            "_late": late,
            "_duplicate_of": None,
        }
        out.append(rec)
        recent.append(rec)
    return out


def write_bronze_input(
    spark,
    out_dir: str,
    cfg: GenConfig = GenConfig(),
    n_files: int = 5,
):
    """Materialize generated events as ``n_files`` parquet files of
    (raw_json_data, timestamp) — Kafka-less Bronze input; with
    ``maxFilesPerTrigger=1`` each file replays as one micro-batch.

    Files are consecutive TIME SLICES (written in order, so the file stream
    source replays them in order) — a Kafka topic delivers roughly
    time-ordered data, and watermark semantics depend on that. A random
    scatter (repartition) would make half the input "late" on replay and the
    watermark would drop it.
    """
    events = generate_events(cfg)
    rows = [(e["json"], e["timestamp"]) for e in events]
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        df = spark.createDataFrame(part, "raw_json_data string, timestamp timestamp")
        df.coalesce(1).write.mode("overwrite" if i == 0 else "append").parquet(out_dir)
    return events
