"""The two medallion workloads: ``backlog`` (closed loop: chunks of
generated events landed one at a time and drained layer by layer by
long-running streams, each followed by the batch twin) and ``live`` (open
loop, files landed on a schedule while the three streams run together).

Wiring: Bronze is ``operators.cast_project`` over the landing directory
into ``sinks.stream_append_parquet``; Silver is
``pipeline.run_streaming_silver``; Gold is ``pipeline.run_streaming_gold``
(the parquet MERGE sink). Every layer reads its upstream at 1000 files per
trigger with a 2-hour watermark, so nothing generated is dropped and
streamed Gold must equal ``pipeline.batch_pipeline`` row for row.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_rides_data_pipeline_spark import generator, pipeline, sinks
from real_time_rides_data_pipeline_spark.operators import cast_project
from real_time_rides_data_pipeline_spark.schemas import BRONZE_SCHEMA
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

from harness import (
    CpuClock,
    Outcome,
    peak_rss_mb,
    percentile,
    progress_end_s,
    repeat_for,
    state_metrics,
    stream_layer_metrics,
)

#: Kafka-shaped landing rows: message value plus broker timestamp.
LANDING_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)
FILES_PER_TRIGGER = 1000
WATERMARK = "2 hours"
GOLD_COLS = [
    *pipeline.GOLD_KEYS,
    "total_rides_hourly",
    "avg_fare_hourly",
    "total_suspicious_rides_hourly",
]

LAYERS = ("bronze", "silver", "gold")
#: backlog: the three streams stay up; each repetition lands one chunk of
#: the seed's generated events, as this many time-ordered files, a day
#: later in event time than the chunk before, and drains it layer by layer
CHUNK_EVENTS = 20_000
CHUNK_FILES = 4
#: Set-up drains chunks until the JIT compiler threads spend less than
#: this share of the work's CPU time on a drain: until then the compilers
#: compete with the tasks for the CPUs and the tasks run slower code, so
#: each drain is faster than the one before (README.md, Warm-up). The
#: share falls by about half per drain, so the first timed drain runs
#: near the settled state.
JIT_SETTLED = 0.6
WARMUP_CHUNKS = (3, 5)  # at the least, at the most
#: timed repetitions per run, at the least
MIN_REPS = 2
#: live: offered load and landing interval (one file per interval)
LIVE_EVENTS_PER_S = 2_000
LIVE_INTERVAL_S = 0.08


def generate(tracer, seed: int, n_events: int) -> list[dict]:
    with tracer.span("generate_events"):
        return generator.generate_events(generator.GenConfig(seed=seed, n_events=n_events))


_ISO_DATE = re.compile(r'"(\d{4}-\d{2}-\d{2})T')


def shifted(events: list[dict], days: int) -> list[dict]:
    """``events`` moved ``days`` days later, in the JSON's event times and
    in the broker timestamp. Ride ids stay, so the (ride id, event time)
    dedup keys of two chunks never meet."""
    if days == 0:
        return events
    delta = timedelta(days=days)
    moved: dict[str, str] = {}

    def move(m) -> str:
        d = m.group(1)
        if d not in moved:
            moved[d] = (date.fromisoformat(d) + delta).isoformat()
        return f'"{moved[d]}T'

    return [
        {"json": _ISO_DATE.sub(move, e["json"]), "timestamp": e["timestamp"] + delta}
        for e in events
    ]


def stage(
    events: list[dict], out_dir: str, n_files: int, prefix: str = "part"
) -> list[tuple[str, int]]:
    """Write ``events`` as ``n_files`` consecutive time slices of landing
    rows; returns (path, rows) per file in time order."""
    os.makedirs(out_dir, exist_ok=True)
    chunk = -(-len(events) // n_files)
    files = []
    for i in range(n_files):
        part = events[i * chunk : (i + 1) * chunk]
        table = pa.table(
            {
                "value": pa.array([e["json"] for e in part], pa.string()),
                "timestamp": pa.array(
                    [e["timestamp"] for e in part], pa.timestamp("us", tz="UTC")
                ),
            }
        )
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table, path)
        files.append((path, len(part)))
    return files


class Medallion:
    """Paths and the three stream queries of one Bronze → Silver → Gold
    run over one landing directory."""

    def __init__(self, spark, tracer, root: str, landing: str):
        self.spark, self.tracer, self.root, self.landing = spark, tracer, root, landing
        self.bronze, self.silver, self.gold = (
            f"{root}/bronze",
            f"{root}/silver",
            f"{root}/gold",
        )
        self.queries: dict[str, object] = {}
        empty = spark.createDataFrame([], BRONZE_SCHEMA)
        self.silver_schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in pipeline.silver_transform(empty).schema
            ]
        )

    def start(self, layer: str):
        s, r = self.spark, self.root
        with self.tracer.span(f"stream.{layer}.start"):
            if layer == "bronze":
                src = parquet_stream(s, self.landing, LANDING_SCHEMA, FILES_PER_TRIGGER)
                q = sinks.stream_append_parquet(
                    cast_project(src), self.bronze, f"{r}/ckpt_bronze", trigger_seconds=None
                ).start()
            elif layer == "silver":
                src = parquet_stream(s, self.bronze, BRONZE_SCHEMA, FILES_PER_TRIGGER)
                q = pipeline.run_streaming_silver(
                    src, self.silver, f"{r}/ckpt_silver", trigger_seconds=None, watermark=WATERMARK
                )
            else:
                src = parquet_stream(s, self.silver, self.silver_schema, FILES_PER_TRIGGER)
                q = pipeline.run_streaming_gold(
                    src, self.gold, f"{r}/ckpt_gold", trigger_seconds=None, watermark=WATERMARK
                )
        self.queries[layer] = q
        return q

    def drain(self, layer: str) -> None:
        with self.tracer.span(f"stream.{layer}.drain"):
            self.queries[layer].processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def bronze_files(self) -> set[str]:
        if not os.path.isdir(self.bronze):
            return set()
        return {os.path.join(self.bronze, f) for f in os.listdir(self.bronze) if f.endswith(".parquet")}

    def progress(self, layer: str) -> list[dict]:
        recs = self.queries[layer].recentProgress
        return sorted(recs, key=lambda p: p["batchId"])

    def exceptions(self) -> list[str]:
        return [str(q.exception()) for q in self.queries.values() if q.exception()]

    def read_bronze(self, files: list[str] | None = None):
        """This run's Bronze, or only the given files of it."""
        return self.spark.read.parquet(*files) if files else self.spark.read.parquet(self.bronze)

    def batch_gold(self, out: str, files: list[str] | None = None) -> float:
        """``pipeline.batch_pipeline`` over this run's Bronze (or the given
        files of it), written as parquet; returns its wall seconds."""
        t0 = time.perf_counter()
        with self.tracer.span("batch_pipeline"):
            bronze = self.read_bronze(files)
            pipeline.batch_pipeline(bronze).write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    def batch_layers(self, out: str, files: list[str] | None = None) -> dict[str, float]:
        """The batch twin split at the Silver boundary: ``silver_transform``
        written out, then ``gold_transform`` over that output."""
        t0 = time.perf_counter()
        bronze = self.read_bronze(files)
        pipeline.silver_transform(bronze).write.mode("overwrite").parquet(f"{out}_silver")
        t1 = time.perf_counter()
        silver = self.spark.read.parquet(f"{out}_silver")
        pipeline.gold_transform(silver).write.mode("overwrite").parquet(f"{out}_gold")
        t2 = time.perf_counter()
        return {"pipeline.batch.silver_s": t1 - t0, "pipeline.batch.gold_s": t2 - t1}

    def verify(self, out: Outcome, n_events: int, n_dups: int, batch_gold_path: str) -> None:
        """The correctness gates, run outside the timed window, against the
        generator's ground truth: ``n_events`` landed, ``n_dups`` of them
        injected duplicates."""
        read = self.spark.read.parquet
        bronze_n = read(self.bronze).count()
        out.check("bronze_rows", bronze_n == n_events, f"{bronze_n} vs {n_events}")
        silver_n = read(self.silver).count()
        want = n_events - n_dups
        out.check("silver_rows", silver_n == want, f"{silver_n} vs {want}")
        gold = read(self.gold).select(*GOLD_COLS)
        total = gold.agg(F.sum("total_rides_hourly")).first()[0] or 0
        out.check("gold_total_rides", total == silver_n, f"{total} vs {silver_n}")
        batch = read(batch_gold_path).select(*GOLD_COLS)
        extra, missing = gold.exceptAll(batch).count(), batch.exceptAll(gold).count()
        out.check(
            "gold_equals_batch",
            extra == 0 and missing == 0,
            f"{extra} extra, {missing} missing of {batch.count()}",
        )


def _cumulative(progress: list[dict], rows_out) -> list[tuple[int, int, float]]:
    """(cumulative rows in, cumulative rows out, batch end) per batch."""
    cin = cout = 0
    out = []
    for p in progress:
        cin += p["numInputRows"]
        cout += rows_out(p)
        out.append((cin, cout, progress_end_s(p)))
    return out


def _bronze_rows_out(p: dict) -> int:
    """Bronze is a projection: every row read is written."""
    return p["numInputRows"]


def _state_rows_out(p: dict) -> int:
    """Rows a stateful layer emitted: dedup and the update-mode aggregate
    emit exactly the state rows they insert or update."""
    ops = p.get("stateOperators") or []
    return ops[0]["numRowsUpdated"] if ops else 0


def gold_done_times(file_rows: list[int], bronze, silver, gold) -> list[float | None]:
    """Per landed file (time order): the end of the first Gold batch after
    which Gold has consumed every Silver row derived from that file, found
    from cumulative rows in and out per batch of the three queries."""
    b = _cumulative(bronze, _bronze_rows_out)
    s = _cumulative(silver, _state_rows_out)
    g = _cumulative(gold, lambda p: 0)

    def first(batches, need_in: int, not_before: float):
        for cin, cout, end in batches:
            if cin >= need_in and end >= not_before:
                return cout, end
        return None

    done, need = [], 0
    for rows in file_rows:
        need += rows
        hit = first(b, need, 0.0)
        hit = hit and first(s, hit[0], hit[1])
        hit = hit and first(g, hit[0], hit[1])
        done.append(hit[1] if hit else None)
    return done


def _duplicates(events: list[dict]) -> int:
    return sum(1 for e in events if e["_duplicate_of"])


def _layer_metrics(m: Medallion, progress: dict[str, list[dict]] | None = None) -> dict[str, float]:
    """Per-layer figures from the given progress records per layer (every
    record of the run by default); Silver files and Gold rows are counted
    over the whole run."""
    progress = progress or {layer: m.progress(layer) for layer in LAYERS}
    layers = {}
    for layer in LAYERS:
        rows_out = _bronze_rows_out if layer == "bronze" else _state_rows_out
        layers.update(stream_layer_metrics(layer, progress[layer], rows_out))
    layers.update(state_metrics("silver_dedup", progress["silver"]))
    layers.update(state_metrics("gold_agg", progress["gold"]))
    layers["sinks.silver_files"] = float(
        sum(1 for f in os.listdir(m.silver) if f.endswith(".parquet"))
    )
    layers["sinks.gold_rows"] = float(m.spark.read.parquet(m.gold).count())
    return layers


def _count_batches(out: Outcome, m: Medallion) -> None:
    """Every micro-batch that ran is an attempted operation; a query that
    stopped with an exception fails the run."""
    for layer in m.queries:
        out.attempted += len(m.progress(layer))
    errors = m.exceptions()
    out.failed += len(errors)
    for e in errors:
        out.checks.append(("stream_exception", False, e[:200]))


@dataclass
class Drain:
    """One chunk through the three streams, then through the batch twin."""

    stream_s: float
    stream_cpu_s: float
    jit_cpu_s: float  # of the JIT compiler threads, during the stream drain
    batch_s: float
    batch_cpu_s: float
    bronze_files: list[str]


def backlog(spark, tracer, work: str, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    t_setup = time.perf_counter()
    base = generate(tracer, seed, CHUNK_EVENTS)
    landing = f"{work}/landing"
    os.makedirs(landing)
    m = Medallion(spark, tracer, f"{work}/run", landing)
    for layer in LAYERS:
        m.start(layer)
    cpu = CpuClock(spark)
    first_record: list[dict[str, int]] = []

    def drain_chunk(i: int) -> Drain:
        """Land chunk ``i`` and drain it through every layer, then run the
        batch twin over the Bronze files it made."""
        staged = stage(shifted(base, i), f"{work}/staged", CHUNK_FILES, prefix=f"c{i:03d}")
        first_record.append({layer: len(m.progress(layer)) for layer in LAYERS})
        before = m.bronze_files()
        c0, jit0, t0 = cpu(), cpu.jit_s, time.perf_counter()
        for path, _ in staged:
            os.rename(path, os.path.join(landing, os.path.basename(path)))
        for layer in LAYERS:
            m.drain(layer)
        t1, c1 = time.perf_counter(), cpu()
        jit = cpu.jit_s - jit0
        files = sorted(m.bronze_files() - before)
        batch_s = m.batch_gold(f"{work}/batch/{i}", files)
        return Drain(t1 - t0, c1 - c0, jit, batch_s, cpu() - c1, files)

    jit_share: list[float] = []
    while True:
        d = drain_chunk(len(jit_share))
        jit_share.append(d.jit_cpu_s / d.stream_cpu_s)
        warmup = len(jit_share)
        settled = jit_share[-1] < JIT_SETTLED
        if warmup == WARMUP_CHUNKS[1] or warmup >= WARMUP_CHUNKS[0] and settled:
            break
    out.setup_s = time.perf_counter() - t_setup

    t_run = time.perf_counter()
    reps = repeat_for(seconds, MIN_REPS, lambda k: drain_chunk(warmup + k))
    out.timed_s = time.perf_counter() - t_run
    out.peak_rss_mb = peak_rss_mb(spark)
    m.stop()
    first_record.append({layer: len(m.progress(layer)) for layer in LAYERS})

    # Chunks lie a day apart and a duplicate repeats one of the ten events
    # before it, so no window or dedup key spans two chunks: the per-chunk
    # batch twins together are the batch twin of the whole Bronze.
    chunks = warmup + len(reps)
    _count_batches(out, m)
    m.verify(out, CHUNK_EVENTS * chunks, _duplicates(base) * chunks, f"{work}/batch/*")
    stream_s = [r.stream_s for r in reps]
    batch_s = [r.batch_s for r in reps]
    out.metrics = {
        "stream_cpu_s": min(r.stream_cpu_s for r in reps),
        "batch_cpu_s": min(r.batch_cpu_s for r in reps),
    }
    out.info = {
        "events_per_chunk": CHUNK_EVENTS,
        "warmup_jit_share": [round(x, 2) for x in jit_share],
        "repetitions": len(reps),
        "stream_s": min(stream_s),
        "batch_s": min(batch_s),
        "events_per_s": CHUNK_EVENTS / min(stream_s),
        "batch_events_per_s": CHUNK_EVENTS / min(batch_s),
        "stream_s_per_drain": [round(t, 3) for t in stream_s],
        "batch_s_per_drain": [round(t, 3) for t in batch_s],
        "stream_cpu_s_per_drain": [round(r.stream_cpu_s, 2) for r in reps],
        "batch_cpu_s_per_drain": [round(r.batch_cpu_s, 2) for r in reps],
    }
    if tracer.enabled:
        # the progress records and Bronze files of the fastest timed drain
        k = stream_s.index(min(stream_s))
        lo, hi = first_record[warmup + k], first_record[warmup + k + 1]
        progress = {layer: m.progress(layer)[lo[layer] : hi[layer]] for layer in LAYERS}
        out.layers = _layer_metrics(m, progress)
        out.layers.update(m.batch_layers(f"{work}/batch_split", reps[k].bronze_files))
    return out


class Lander(threading.Thread):
    """The open-loop generator: moves staged file i into the landing
    directory at ``t0 + i * interval`` by ``os.rename``, whatever the
    pipeline is doing, and records when each move really happened."""

    def __init__(self, staged: list[tuple[str, int]], landing: str, t0: float, interval: float):
        super().__init__(name="lander", daemon=True)
        self.staged, self.landing, self.t0, self.interval = staged, landing, t0, interval
        self.scheduled: list[float] = []
        self.landed: list[float] = []

    def run(self) -> None:
        for i, (path, _) in enumerate(self.staged):
            due = self.t0 + i * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(path, os.path.join(self.landing, os.path.basename(path)))
            self.scheduled.append(due)
            self.landed.append(time.time())


def live(spark, tracer, work: str, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    t_setup = time.perf_counter()
    n_files = max(1, round(seconds / LIVE_INTERVAL_S))
    per_file = round(LIVE_EVENTS_PER_S * LIVE_INTERVAL_S)
    # File 0 is the warm-up file; it reaches Gold before the clock starts.
    events = generate(tracer, seed, per_file * (n_files + 1))
    staged = stage(events, f"{work}/staged", n_files + 1)
    landing = f"{work}/landing"
    os.makedirs(landing)
    m = Medallion(spark, tracer, f"{work}/run", landing)
    for layer in LAYERS:
        m.start(layer)
    warm_path, warm_rows = staged[0]
    os.rename(warm_path, os.path.join(landing, os.path.basename(warm_path)))
    _wait_for_gold(m, [warm_rows], timeout_s=120)
    m.batch_gold(f"{work}/warm_batch_gold")
    out.setup_s = time.perf_counter() - t_setup

    cpu = CpuClock(spark)
    c_run, t_run = cpu(), time.perf_counter()
    lander = Lander(staged[1:], landing, time.time() + LIVE_INTERVAL_S, LIVE_INTERVAL_S)
    lander.start()
    lander.join()
    t_end = time.time()
    for layer in LAYERS:
        m.drain(layer)
    m.stop()
    out.timed_s = time.perf_counter() - t_run
    stream_cpu_s = cpu() - c_run
    out.peak_rss_mb = peak_rss_mb(spark)

    done = gold_done_times(
        [r for _, r in staged], m.progress("bronze"), m.progress("silver"), m.progress("gold")
    )[1:]
    scheduled = lander.scheduled
    latency = [d - s for d, s in zip(done, scheduled) if d is not None]
    out.attempted += len(done)
    out.failed += sum(1 for d in done if d is None)
    _count_batches(out, m)
    c0 = cpu()
    batch_s = m.batch_gold(f"{m.root}/batch_gold")
    batch_cpu_s = cpu() - c0
    m.verify(out, len(events), _duplicates(events), f"{m.root}/batch_gold")

    lag = [a - s for a, s in zip(lander.landed, lander.scheduled)]
    backlog_end = sum(
        1 for d, s in zip(done, scheduled) if s <= t_end and (d is None or d > t_end)
    )
    # Validity: the generator kept its schedule, and the files still on
    # their way to Gold when landing stopped are no more than a steady
    # pipeline holds (those landed within two p90 latencies).
    lag_p90 = percentile(lag, 90)
    out.check("generator_on_schedule", lag_p90 < LIVE_INTERVAL_S, f"lag p90 {lag_p90:.3f}s")
    steady = sum(
        1 for s in scheduled if s > t_end - 2 * percentile(latency, 90) - LIVE_INTERVAL_S
    )
    out.check("backlog_bounded", backlog_end <= steady, f"{backlog_end} files vs {steady}")
    out.metrics = {"stream_cpu_s": stream_cpu_s, "batch_cpu_s": batch_cpu_s}
    out.info = {
        "files": len(done),
        "latency_samples": len(latency),
        "events_per_s_offered": LIVE_EVENTS_PER_S,
        "gold_latency_p50_s": percentile(latency, 50),
        "gold_latency_p90_s": percentile(latency, 90),
        "batch_s": batch_s,
    }
    if tracer.enabled:
        out.layers = _layer_metrics(m)
        out.layers.update(m.batch_layers(f"{m.root}/batch_split"))
        out.layers["live.generator_lag_p90_s"] = lag_p90
        out.layers["live.backlog_end_files"] = float(backlog_end)
        out.layers["live.latency_samples"] = float(len(latency))
    return out


def _wait_for_gold(m: Medallion, file_rows: list[int], timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while True:
        done = gold_done_times(
            file_rows, m.progress("bronze"), m.progress("silver"), m.progress("gold")
        )
        if all(d is not None for d in done):
            return
        errors = m.exceptions()
        if errors or time.time() > deadline:
            raise RuntimeError(f"warm-up file never reached Gold: {errors}")
        time.sleep(0.05)
