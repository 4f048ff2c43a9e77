"""Measurement plumbing shared by the workloads: spans with Spark job
groups, binding-site wrappers, progress-record summaries, percentiles and
peak RSS.

Spans are recorded from the benchmark's own files, around the calls it
makes into the package; nothing inside the package is instrumented.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

PACKAGE = "real_time_rides_data_pipeline_spark"
#: The query modules the registry slice draws keys from, each reported as
#: its own layer.
QUERY_MODULES = (
    "queries",
    "queries_analytics",
    "queries_curate",
    "queries_ext",
    "queries_mining",
    "queries_ml",
    "queries_olap",
    "queries_ops",
    "queries_scale",
)


@dataclass
class Outcome:
    """What one workload run measured and checked. ``setup_s`` is the
    workload's own set-up (the session start is added by the caller);
    ``peak_rss_mb`` is read when the timed window ``timed_s`` ends."""

    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)
    setup_s: float = 0.0
    timed_s: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, ok, detail))


def repeat_for(seconds: float, min_reps: int, body) -> list:
    """``body(i)`` for i = 0, 1, ... until ``seconds`` are spent, at least
    ``min_reps`` times. A further call starts only if one more as long as
    the last still ends within ``seconds``, so the window does not overrun
    by a whole repetition."""
    results: list = []
    t0 = time.perf_counter()
    last = 0.0
    while len(results) < min_reps or time.perf_counter() - t0 + last <= seconds:
        t = time.perf_counter()
        results.append(body(len(results)))
        last = time.perf_counter() - t
    return results


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def progress_end_s(p: dict) -> float:
    """Wall-clock end of a micro-batch: its start ``timestamp`` plus its
    ``triggerExecution`` duration."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


class Tracer:
    """Spans (name, start, end, parent, run id, jobs) kept in memory and
    written out when the run ends. With ``enabled=False`` every method is a
    no-op, so untraced runs pay nothing but a function call."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        #: seconds spent in span bookkeeping and the listener callback
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        rec["group"] = f"{self.run_id}:{rec['id']}"
        sc.setJobGroup(rec["group"], name, interruptOnCancel=False)
        stack.append(rec)
        t0 = time.perf_counter()
        self._add_overhead(t0 - t_in)
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"], interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["start"], rec["end"] = t0, t1
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
            with self._lock:
                self.spans.append(rec)
            self._add_overhead(time.perf_counter() - t1)

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span timed by the caller (for calls made before the
        tracer could exist, such as starting the session)."""
        if self.enabled:
            rec = {"id": next(self._ids), "name": name, "parent": None,
                   "run_id": self.run_id, "start": start, "end": end, "jobs": 0}
            with self._lock:
                self.spans.append(rec)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def wrap_everywhere(self, func, span_name: str) -> None:
        """Replace ``func`` with a spanned wrapper at every binding site in
        the loaded package modules (``from x import f`` copies the name)."""
        if not self.enabled:
            return

        @functools.wraps(func)
        def spanned(*args, **kwargs):
            with self.span(span_name):
                return func(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if not name.startswith(PACKAGE) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, spanned)

    def listen(self) -> None:
        """Register one StreamingQueryListener that keeps every progress
        record as parsed JSON, those of queries started inside registry
        keys included, for the trace file."""
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                rec = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(rec)
                tracer._add_overhead(time.perf_counter() - t0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return float(sum(s["end"] - s["start"] for s in self.spans if s["name"] == name))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def jobs_under(self, span: dict) -> int:
        """Jobs of a span plus those of its descendants (a nested span
        takes over the job group while it is open)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        todo, n = [span], 0
        while todo:
            s = todo.pop()
            n += s["jobs"]
            todo.extend(children.get(s["id"], []))
        return n

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for p in self.progress:
                f.write(json.dumps({"kind": "progress", **p}) + "\n")


def stream_layer_metrics(layer: str, progress: list[dict], rows_out) -> dict[str, float]:
    """Per-layer totals from one query's progress records; ``rows_out``
    gives the rows one batch emitted (file and foreachBatch sinks report
    none)."""
    out = {
        f"pipeline.{layer}.wall_s": sum(
            p["durationMs"].get("triggerExecution", 0) for p in progress
        ) / 1000.0,
        f"pipeline.{layer}.batches": float(
            sum(1 for p in progress if p["numInputRows"] > 0)
        ),
        f"pipeline.{layer}.rows_in": float(sum(p["numInputRows"] for p in progress)),
        f"pipeline.{layer}.rows_out": float(sum(rows_out(p) for p in progress)),
    }
    for phase, name in (
        ("addBatch", "add_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("latestOffset", "latest_offset_ms"),
        ("getBatch", "get_batch_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        out[f"pipeline.{layer}.{name}"] = float(
            sum(p["durationMs"].get(phase, 0) for p in progress)
        )
    return out


def state_metrics(name: str, progress: list[dict]) -> dict[str, float]:
    """State-store size, commit time and watermark drops of the first
    stateful operator of one query."""
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        f"state.{name}.rows_max": float(max((o["numRowsTotal"] for o in ops), default=0)),
        f"state.{name}.bytes_max": float(max((o["memoryUsedBytes"] for o in ops), default=0)),
        f"state.{name}.commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        f"state.{name}.dropped_by_watermark": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        ),
    }


class CpuClock:
    """CPU seconds (user + system) spent so far on the program's work: this
    Python process, the driver JVM and every process under it (Python
    workers), less the JVM's JIT compiler threads. Compilation is JVM
    warm-up that fades over a long run; in a short one it is up to half the
    JVM's CPU and shrinks from one repetition to the next. Time the
    hypervisor gives to other guests (steal) is in none of it."""

    def __init__(self, spark):
        self.jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tick = os.sysconf("SC_CLK_TCK")
        #: ticks last read per compiler thread; a thread that ended keeps
        #: its last reading, as the process total keeps its time
        self.compiler_ticks: dict[str, int] = {}

    @property
    def jit_s(self) -> float:
        """CPU seconds of the JIT compiler threads, as of the last call."""
        return sum(self.compiler_ticks.values()) / self.tick

    @staticmethod
    def _stat(path: str) -> tuple[str, list[str]]:
        """(command name, fields after it) of one /proc stat file."""
        with open(path) as f:
            text = f.read()
        head, rest = text.rsplit(")", 1)
        return head.split("(", 1)[1], rest.split()

    def __call__(self) -> float:
        ticks: dict[int, int] = {}
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                _, fields = self._stat(f"/proc/{entry}/stat")
            except OSError:  # ended while being read
                continue
            # utime, stime, and the same of children that ended and were waited for
            ticks[int(entry)] = sum(int(x) for x in fields[11:15])
            children.setdefault(int(fields[1]), []).append(int(entry))
        total, todo = 0, [self.jvm]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo.extend(children.get(pid, []))
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                name, fields = self._stat(f"/proc/{self.jvm}/task/{tid}/stat")
            except OSError:
                continue
            if "CompilerThre" in name:
                self.compiler_ticks[tid] = int(fields[11]) + int(fields[12])
        total -= sum(self.compiler_ticks.values())
        t = os.times()
        return total / self.tick + t.user + t.system


def host_cpu() -> list[int]:
    """The host's CPU time counters (``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``host_cpu`` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of this Python process plus the
    driver JVM, read from /proc."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb(os.getpid()) + hwm_kb(jvm_pid)) / 1024.0
