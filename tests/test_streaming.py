"""Streaming suite (SURVEY.md §5.2.2-4): stream≡batch equivalence through the
full medallion pipeline, generator-replay invariants, and MERGE semantics."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.generator import (
    GenConfig,
    generate_events,
    write_bronze_input,
)
from real_time_rides_data_pipeline_spark.pipeline import (
    GOLD_KEYS,
    batch_pipeline,
    gold_transform,
    run_streaming_gold,
    run_streaming_silver,
    silver_transform,
)
from real_time_rides_data_pipeline_spark.schemas import BRONZE_SCHEMA
from real_time_rides_data_pipeline_spark.sinks import merge_upsert_parquet
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream
from real_time_rides_data_pipeline_spark.streaming.replay import (
    replay_stream,
    run_to_completion,
    sentinel_frame,
    stage_batches,
)

N_EVENTS = 600


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("streaming")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


@pytest.fixture(scope="module")
def bronze_input(spark, workdir):
    path = f"{workdir}/bronze_input"
    events = write_bronze_input(
        spark, path, GenConfig(seed=7, n_events=N_EVENTS), n_files=5
    )
    return path, events


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_generator_injection_rates(bronze_input):
    _, events = bronze_input
    n = len(events)
    n_dup = sum(1 for e in events if e["_duplicate_of"])
    n_susp = sum(1 for e in events if e.get("_suspicious"))
    n_late = sum(1 for e in events if e.get("_late"))
    assert 0.005 * n <= n_dup <= 0.05 * n
    assert 0.06 * n <= n_susp <= 0.15 * n
    assert 0.02 * n <= n_late <= 0.09 * n


def test_generator_is_deterministic():
    a = generate_events(GenConfig(seed=7, n_events=50))
    b = generate_events(GenConfig(seed=7, n_events=50))
    assert [e["json"] for e in a] == [e["json"] for e in b]


@pytest.fixture(scope="module")
def silver_stream(spark, workdir, bronze_input):
    """The Silver stream's output over ``bronze_input``, drained once."""
    input_path, _ = bronze_input
    silver_path = f"{workdir}/silver"
    q = run_streaming_silver(
        parquet_stream(spark, input_path, BRONZE_SCHEMA),
        silver_path,
        f"{workdir}/ckpt_silver",
        trigger_seconds=None,
        watermark="2 hours",
    )
    q.processAllAvailable()
    q.stop()
    return silver_path


def test_silver_stream_equals_batch(spark, bronze_input, silver_stream):
    """Exact stream≡batch equality needs a watermark wide enough that no
    generated event is dropped (batch ignores watermarks); the tight-
    watermark late-drop contract is pinned separately below."""
    input_path, events = bronze_input
    silver_path = silver_stream
    streamed = spark.read.parquet(silver_path)
    batch = silver_transform(spark.read.parquet(input_path))
    cols = ["ride_id", "event_timestamp", "fare", "trip_duration_seconds", "is_suspicious"]
    assert _sorted_rows(streamed, cols) == _sorted_rows(batch, cols)

    # dedup really removed the injected re-emissions
    n_dupes = sum(1 for e in events if e["_duplicate_of"])
    raw = spark.read.parquet(input_path).count()
    assert streamed.count() == raw - n_dupes  # the generator injects no invalid rows

    # suspicious flag rate ≈ injected 10% + ~3-5% coincidental (short ride
    # with fare > 300 occurs naturally: duration 1-15 min, fare 50-1000)
    susp = streamed.filter("is_suspicious").count()
    assert 0.05 * streamed.count() <= susp <= 0.22 * streamed.count()


def test_silver_parses_each_ride_once_in_batch_and_stream(spark, workdir, bronze_input):
    """Silver's optimized plan holds one ``from_json`` in batch and in
    stream, with no ``localCheckpoint`` barrier (a ``LogicalRDD``): the
    validity filter on the parsed fields must not be pushed below the
    parse and copy it per field."""
    input_path, _ = bronze_input
    batch = silver_transform(spark.read.parquet(input_path))
    plan = batch._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    assert "LogicalRDD" not in plan, plan

    # The query explains its last micro-batch. Without this conf that is
    # the no-data batch the advanced watermark triggers, whose empty input
    # lets the optimizer fold the parse away, so no plan with rows is seen.
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        q = run_to_completion(
            silver_transform(parquet_stream(spark, input_path, BRONZE_SCHEMA))
            .writeStream.format("noop")
            .option("checkpointLocation", f"{workdir}/parse_once_ckpt")
        )
    finally:
        spark.conf.set(key, prior)
    explained = q._jsq.explainInternal(True)
    plan = explained.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
    assert plan.count("from_json(") == 1, plan
    assert "LogicalRDD" not in plan, plan


def _two_step_silver(bronze_df):
    """Silver as it was built before ``expand_struct`` went through
    ``inline``: the JSON parsed into a struct column, the struct expanded
    with a ``data.*`` projection, and (batch only) a lazy
    ``localCheckpoint`` after the expansion."""
    from real_time_rides_data_pipeline_spark import operators as ops

    rides = ops.parse_json_events(ops.drop_malformed(bronze_df)).select(
        "data.*", "timestamp"
    )
    if not rides.isStreaming:
        rides = rides.localCheckpoint(eager=False)
    rides = ops.validity_filter(
        ops.with_trip_distance(ops.with_trip_duration(rides))
    )
    rides = ops.stream_dedup(
        rides, keys=("ride_id", "event_timestamp"), event_time_col="event_timestamp"
    )
    return ops.with_suspicious_flag(rides)


def test_silver_odd_json_payloads_match_the_two_step_parse(spark, workdir):
    """Payloads that are valid JSON but not a ride object (``123``, ``[]``,
    ``"x"``, ``null``, ``{}``) pass ``drop_malformed``; parsed once through
    ``inline`` they give the same columns and the same Silver rows as the
    struct-then-``data.*`` parse, in batch and in stream. A real ride rides
    along so the Silver comparison is not between two empty tables."""
    from real_time_rides_data_pipeline_spark import operators as ops

    odd = ["123", "[]", '"x"', "null", "{}"]
    ride = generate_events(GenConfig(seed=7, n_events=1))[0]
    ts = ride["timestamp"]
    path = f"{workdir}/odd_payloads"
    spark.createDataFrame(
        [(p, ts) for p in odd] + [(ride["json"], ts)], BRONZE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(path)
    bronze = spark.read.parquet(path)
    assert bronze.filter(F.try_parse_json("raw_json_data").isNull()).count() == 0

    parsed = ops.parse_json_events(ops.drop_malformed(bronze))
    one = ops.expand_struct(parsed, "timestamp")
    two = parsed.select("data.*", "timestamp")
    assert one.schema == two.schema
    assert sorted(map(tuple, one.collect()), key=repr) == sorted(
        map(tuple, two.collect()), key=repr
    )
    assert one.count() == len(odd) + 1

    cols = silver_transform(bronze).columns
    batch_rows = _sorted_rows(silver_transform(bronze), cols)
    assert batch_rows == _sorted_rows(_two_step_silver(bronze), cols)
    assert [r[0] for r in batch_rows] == [json.loads(ride["json"])["ride_id"]]

    streamed = {}
    for name, build in (("odd_one", silver_transform), ("odd_two", _two_step_silver)):
        run_to_completion(
            build(parquet_stream(spark, path, BRONZE_SCHEMA))
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/{name}_ckpt")
        )
        streamed[name] = _sorted_rows(spark.table(name), cols)
    assert streamed["odd_one"] == streamed["odd_two"] == batch_rows


def test_gold_stream_merge_equals_batch(spark, workdir, bronze_input, silver_stream):
    input_path, _ = bronze_input
    silver_path = silver_stream
    gold_path = f"{workdir}/gold"
    q = run_streaming_gold(
        parquet_stream(spark, silver_path, spark.read.parquet(silver_path).schema),
        gold_path,
        f"{workdir}/ckpt_gold",
        watermark="2 hours",
    )
    q.processAllAvailable()
    q.stop()

    streamed = spark.read.parquet(gold_path)
    batch = batch_pipeline(spark.read.parquet(input_path))
    cols = list(GOLD_KEYS) + [
        "total_rides_hourly",
        "avg_fare_hourly",
        "total_suspicious_rides_hourly",
    ]
    # late-past-watermark rows may be dropped by the stream but kept by the
    # batch plan (watermark is a no-op in batch): the streamed aggregate must
    # match the batch aggregate over non-late-dropped windows, and the
    # reference's own invariant (Σ gold = silver count) must hold vs silver.
    streamed_rows = _sorted_rows(streamed, cols)
    batch_rows = _sorted_rows(batch, cols)
    assert streamed_rows == batch_rows, (
        f"stream {len(streamed_rows)} vs batch {len(batch_rows)}"
    )
    silver_n = spark.read.parquet(silver_path).count()
    assert streamed.agg(F.sum("total_rides_hourly")).first()[0] == silver_n


def test_merge_upsert_latest_wins(spark, workdir):
    path = f"{workdir}/merge_target"
    first = spark.createDataFrame(
        [("w1", "we1", "d1", 1), ("w2", "we2", "d2", 2)],
        "window_start string, window_end string, driver_id string, total long",
    )
    merge_upsert_parquet(spark, first, path, ("window_start", "window_end", "driver_id"))
    update = spark.createDataFrame(
        [("w1", "we1", "d1", 10), ("w3", "we3", "d3", 3)],
        "window_start string, window_end string, driver_id string, total long",
    )
    merge_upsert_parquet(spark, update, path, ("window_start", "window_end", "driver_id"))
    rows = {
        (r.window_start, r.driver_id): r.total
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {("w1", "d1"): 10, ("w2", "d2"): 2, ("w3", "d3"): 3}


def test_merge_is_idempotent(spark, workdir):
    """Re-applying the same micro-batch (failure/retry) must not change the
    target — the exactly-once story of foreachBatch+MERGE."""
    path = f"{workdir}/merge_idem"
    batch = spark.createDataFrame(
        [("w1", "we1", "d1", 5)],
        "window_start string, window_end string, driver_id string, total long",
    )
    merge_upsert_parquet(spark, batch, path, ("window_start", "window_end", "driver_id"))
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    merge_upsert_parquet(spark, batch, path, ("window_start", "window_end", "driver_id"))
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after


def test_watermark_drops_very_late_events(spark, workdir):
    """Tight-watermark contract: an event far older than the advanced
    watermark is dropped by the streaming dedup (but kept in batch)."""
    input_path = f"{workdir}/late_input"
    # batch 1 advances event time to 12:00 (watermark → 11:50); batch 2
    # carries an 11:00 straggler — 50 min past the watermark → dropped.
    # Batch boundaries are forced by writing file 2 only after the first
    # processAllAvailable (file discovery order alone is not deterministic).
    f1 = [("R1", "2024-01-01 12:00:00")]
    f2 = [("R2", "2024-01-01 11:00:00"), ("R3", "2024-01-01 12:01:00")]

    def write(rows, mode):
        spark.createDataFrame(rows, "ride_id string, ts string").withColumn(
            "event_timestamp", F.col("ts").cast("timestamp")
        ).drop("ts").coalesce(1).write.mode(mode).parquet(input_path)

    write(f1, "overwrite")
    from real_time_rides_data_pipeline_spark.operators import stream_dedup

    stream = parquet_stream(
        spark, input_path, spark.read.parquet(input_path).schema, 1
    )
    deduped = stream_dedup(
        stream, keys=("ride_id", "event_timestamp"), watermark="10 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    write(f2, "append")
    q.processAllAvailable()
    q.stop()
    got = sorted(r.ride_id for r in spark.sql("SELECT ride_id FROM late_out").collect())
    assert "R2" not in got, f"late straggler must be dropped, got {got}"
    assert {"R1", "R3"} <= set(got)


def test_late_events_dropped_by_watermark(spark, workdir):
    """Events later than the watermark relative to the max seen event time
    must not reach the dedup output in streaming mode (but do in batch) —
    exercised indirectly: watermarked dedup state is bounded, so a duplicate
    re-emitted AFTER the watermark passed is NOT deduped. Here we just pin
    the streaming dedup contract on the happy path with in-window dupes."""
    from real_time_rides_data_pipeline_spark.operators import stream_dedup

    input_path = f"{workdir}/wm_input"
    rows = [
        ("R1", "2024-01-01 10:00:00"),
        ("R1", "2024-01-01 10:00:00"),  # in-window duplicate → dropped
        ("R2", "2024-01-01 10:05:00"),
    ]
    spark.createDataFrame(rows, "ride_id string, ts string").withColumn(
        "event_timestamp", F.col("ts").cast("timestamp")
    ).drop("ts").coalesce(1).write.mode("overwrite").parquet(input_path)
    stream = parquet_stream(
        spark, input_path, spark.read.parquet(input_path).schema
    )
    deduped = stream_dedup(stream, keys=("ride_id", "event_timestamp"))
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT ride_id FROM wm_out").collect()
    assert sorted(r.ride_id for r in got) == ["R1", "R2"]


def test_tws_top_values_stream_equals_batch(spark, workdir):
    """transformWithStateInPandas top-2 tracker: streamed micro-batches must
    equal the batch window ranking (skipped where TWS can't run — it needs
    Spark >= 4.0 and protobuf for its state-server protocol)."""
    import pytest

    from real_time_rides_data_pipeline_spark.streaming.stateful import HAVE_TWS

    if not HAVE_TWS:
        pytest.skip("transformWithState unavailable (needs protobuf)")

    from real_time_rides_data_pipeline_spark.registry import registry

    df = registry()["q_tws_top_values"].fn(spark, SMOKE_SF)
    got = {r.user_id: (r.n_events, r.top1_event_id) for r in df.collect()}
    ev = spark.read.parquet(f"{SMOKE_SF}/events.parquet")
    assert len(got) == ev.select("user_id").distinct().count()


def test_tws_unavailable_error_names_the_missing_module(spark, monkeypatch):
    """Without protobuf, running_top_values reports the failed import, not
    a Spark version it may well have."""
    import importlib.util

    from real_time_rides_data_pipeline_spark.streaming import stateful

    monkeypatch.setitem(sys.modules, "google.protobuf", None)
    monkeypatch.setitem(sys.modules, "google.protobuf.descriptor", None)
    spec = importlib.util.spec_from_file_location(
        "stateful_without_protobuf", stateful.__file__
    )
    without = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(without)
    assert not without.HAVE_TWS
    with pytest.raises(NotImplementedError, match="google") as err:
        without.running_top_values(spark.range(1))
    assert "Spark >= 4.0" not in str(err.value)


def test_dedup_within_watermark_drops_retries_with_skewed_timestamps(spark, workdir):
    """A retried event re-arrives with a slightly different broker timestamp.
    The reference's (ride_id, event_timestamp) dedup keeps BOTH copies;
    dropDuplicatesWithinWatermark keyed on ride_id alone drops the retry."""
    from real_time_rides_data_pipeline_spark.operators import (
        stream_dedup,
        stream_dedup_within_watermark,
    )

    input_path = f"{workdir}/wwm_input"
    rows = [
        ("R1", "2024-01-01 10:00:00.000"),
        ("R1", "2024-01-01 10:00:00.250"),  # retry, +250 ms → same ride
        ("R2", "2024-01-01 10:05:00.000"),
    ]
    spark.createDataFrame(rows, "ride_id string, ts string").withColumn(
        "event_timestamp", F.col("ts").cast("timestamp")
    ).drop("ts").coalesce(1).write.mode("overwrite").parquet(input_path)
    schema = spark.read.parquet(input_path).schema

    def run(dedup_fn, name):
        stream = parquet_stream(spark, input_path, schema)
        q = (
            dedup_fn(stream, keys=("ride_id",))
            if dedup_fn is stream_dedup_within_watermark
            else dedup_fn(stream, keys=("ride_id", "event_timestamp"))
        )
        sq = (
            q.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        sq.processAllAvailable()
        sq.stop()
        return sorted(r.ride_id for r in spark.sql(f"SELECT ride_id FROM {name}").collect())

    # reference-style key: the timestamp skew defeats it — 3 rows survive
    assert run(stream_dedup, "wwm_ref") == ["R1", "R1", "R2"]
    # within-watermark business-key dedup: the retry is dropped
    assert run(stream_dedup_within_watermark, "wwm_new") == ["R1", "R2"]


def test_stream_stream_join_state_spans_micro_batches(spark, workdir):
    """A view arriving in micro-batch 1 must still join a click arriving in
    micro-batch 2 (within the 5-minute interval): the symmetric-hash join
    buffers each side's rows in watermark-bounded state across batches."""
    input_path = f"{workdir}/ssj_input"
    schema_str = "event_id long, user_id long, event_type string, ts string"

    def write(rows, mode):
        spark.createDataFrame(rows, schema_str).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode(mode).parquet(input_path)

    # batch 1: the view (and an unrelated click with no matching view)
    write(
        [
            (1, 1, "view", "2024-01-01 10:00:00"),
            (2, 2, "click", "2024-01-01 10:01:00"),
        ],
        "overwrite",
    )
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    schema = spark.read.parquet(input_path).schema

    def side(tag, typ):
        s = parquet_stream(spark, input_path, schema, max_files_per_trigger=1)
        return (
            s.filter(F.col("event_type") == typ)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("event_id").alias(f"{tag}_id"),
                F.col("user_id").alias(f"{tag}_user"),
                F.col("ts").alias(f"{tag}_ts"),
            )
        )

    joined = side("click", "click").join(
        side("view", "view"),
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2: the click that must find the batch-1 view in join state
    write([(3, 1, "click", "2024-01-01 10:03:00")], "append")
    q.processAllAvailable()
    q.stop()
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT click_id, view_id FROM ssj_out").collect()
    }
    assert (3, 1) in got, got
    assert all(c != 2 for c, _ in got), got  # the viewless click never joins


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, workdir):
    """Outer-join semantics under event time: a click with no matching view
    emits (click, NULL) only once the watermark passes its join window —
    the state manager can't know 'no match' until time runs out.

    The two sides read DISTINCT directories: identical readStream sources
    over one directory are deduplicated into a single scan, which leaves
    one of the two watermark nodes never executing — the global (min)
    watermark then never advances and outer rows never emit."""
    click_path = f"{workdir}/ssjo_clicks"
    view_path = f"{workdir}/ssjo_views"
    schema_str = "event_id long, user_id long, ts string"

    def write(path, rows, mode):
        spark.createDataFrame(rows, schema_str).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode(mode).parquet(path)

    # batch 1: a click with no matching view; an unrelated view
    write(click_path, [(1, 1, "2024-01-01 10:00:00")], "overwrite")
    write(view_path, [(50, 9, "2024-01-01 10:01:00")], "overwrite")
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    schema = spark.read.parquet(click_path).schema

    def side(tag, path):
        s = parquet_stream(spark, path, schema, max_files_per_trigger=1)
        return s.withWatermark("ts", "10 minutes").select(
            F.col("event_id").alias(f"{tag}_id"),
            F.col("user_id").alias(f"{tag}_user"),
            F.col("ts").alias(f"{tag}_ts"),
        )

    joined = side("click", click_path).join(
        side("view", view_path),
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjo_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    before = spark.sql("SELECT click_id, view_id FROM ssjo_out").collect()
    # no emission yet: the click's window could still be matched
    assert all(r.click_id != 1 or r.view_id is not None for r in before)
    # far-future events on BOTH sides advance both watermarks past the
    # window (batch 2); eviction + outer emission happens in the batch that
    # STARTS with the advanced watermark, so batch 3 forces it
    write(click_path, [(2, 8, "2024-01-01 12:00:00")], "append")
    write(view_path, [(51, 9, "2024-01-01 12:00:00")], "append")
    q.processAllAvailable()
    write(click_path, [(3, 8, "2024-01-01 12:01:00")], "append")
    write(view_path, [(52, 9, "2024-01-01 12:01:00")], "append")
    q.processAllAvailable()
    q.stop()
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT click_id, view_id FROM ssjo_out").collect()
    }
    assert (1, None) in got, got


def _silver_restart(spark, workdir, tag, phase1_spark, after_phase1=None):
    """Run the Silver stream over half of a 6-file corpus in
    ``phase1_spark``, stop it, call ``after_phase1(checkpoint)``, then
    restart it from the same checkpoint in ``spark`` over the full corpus,
    and assert the sink equals the batch transform, each row exactly once.
    Returns the checkpoint path."""
    staging = f"{workdir}/{tag}_staging"
    input_path = f"{workdir}/{tag}_input"
    silver_path = f"{workdir}/{tag}_silver"
    ckpt = f"{workdir}/{tag}_ckpt"
    os.makedirs(input_path)
    write_bronze_input(spark, staging, GenConfig(seed=11, n_events=N_EVENTS), n_files=6)
    files = sorted(
        f for f in os.listdir(staging)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert len(files) == 6
    phase1, phase2 = files[:3], files[3:]

    for f in phase1:
        shutil.copy(os.path.join(staging, f), os.path.join(input_path, f))
    q = run_streaming_silver(
        parquet_stream(phase1_spark, input_path, BRONZE_SCHEMA),
        silver_path, ckpt, trigger_seconds=None, watermark="2 hours",
    )
    q.processAllAvailable()
    q.stop()
    n_phase1 = spark.read.parquet(silver_path).count()
    assert n_phase1 > 0
    if after_phase1 is not None:
        after_phase1(ckpt)

    for f in phase2:
        shutil.copy(os.path.join(staging, f), os.path.join(input_path, f))
    q2 = run_streaming_silver(
        parquet_stream(spark, input_path, BRONZE_SCHEMA),
        silver_path, ckpt, trigger_seconds=None, watermark="2 hours",
    )
    q2.processAllAvailable()
    q2.stop()

    streamed = spark.read.parquet(silver_path)
    batch = silver_transform(spark.read.parquet(input_path))
    cols = ["ride_id", "event_timestamp", "fare",
            "trip_duration_seconds", "is_suspicious"]
    assert _sorted_rows(streamed, cols) == _sorted_rows(batch, cols)
    # continuation, not reprocessing: the restarted run added only the
    # phase-2 rows on top of the phase-1 sink contents
    assert streamed.count() > n_phase1
    assert streamed.count() == batch.count()
    return ckpt


def _state_files(ckpt, suffix):
    return [
        f for _root, _dirs, names in os.walk(f"{ckpt}/state")
        for f in names if f.endswith(suffix)
    ]


def test_silver_checkpoint_restart_is_exactly_once(spark, workdir):
    """Kill the Silver stream mid-corpus and RESTART it from the same
    checkpoint: the second run must continue where the first stopped —
    batch-1 files are not reprocessed (the append sink would show
    duplicate rows), batch-2 files are not missed, and the final sink
    equals the batch transform over the full input. This is the
    exactly-once fault-tolerance contract the reference leans on
    (checkpointLocation at 01:47,86 / 02:12,117 / 03:15,125) actually
    exercised across a process-level stop/start."""
    _silver_restart(spark, workdir, "restart", spark)


def test_silver_restart_from_snapshot_only_state_is_exactly_once(spark, workdir):
    """A checkpoint whose RocksDB state was written without changelog
    checkpointing (one zip + SST snapshot per commit, the on-disk format
    before the session enabled changelogs) must restart under the
    session's changelog default and still deliver every row exactly
    once."""
    from real_time_rides_data_pipeline_spark.session import scoped_writer_session

    legacy = scoped_writer_session(spark, 8)
    legacy.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "false",
    )

    def snapshots_only(ckpt):
        assert _state_files(ckpt, ".zip")
        assert not _state_files(ckpt, ".changelog")

    ckpt = _silver_restart(spark, workdir, "legacy_restart", legacy, snapshots_only)
    assert _state_files(ckpt, ".changelog")  # the restart wrote changelogs


def test_gold_merge_checkpoint_restart_converges(spark, workdir):
    """Restart the Gold agg+MERGE stream from its checkpoint mid-corpus:
    the windowed state and the MERGE sink must both survive the stop —
    windows whose rows straddle the restart boundary re-merge to the
    correct totals (update-mode re-emission + latest-wins MERGE makes the
    restart invisible), and the reference's own invariant
    (sum of gold counts = silver rows) holds over the full input."""
    staging = f"{workdir}/grestart_staging"
    silver_in = f"{workdir}/grestart_silver"
    gold_path = f"{workdir}/grestart_gold"
    ckpt = f"{workdir}/grestart_ckpt"
    os.makedirs(silver_in)
    # silver-shaped input: batch silver_transform of generated bronze,
    # written as 6 time-sliced files (ordered, like a real Silver table)
    bronze_staging = f"{workdir}/grestart_bronze"
    write_bronze_input(spark, bronze_staging, GenConfig(seed=13, n_events=N_EVENTS), n_files=6)
    silver = silver_transform(spark.read.parquet(bronze_staging)).orderBy(
        "event_timestamp"
    )
    silver.coalesce(1).write.parquet(staging)
    # re-slice into 6 ordered files by hour-rank so arrival is time-ordered
    rows = spark.read.parquet(staging).orderBy("event_timestamp")
    n = rows.count()
    pdf = rows.toPandas()
    chunk = (n + 5) // 6
    schema = rows.schema
    for i in range(6):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if len(part) == 0:
            continue
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{staging}_sliced")
    files = sorted(
        f for f in os.listdir(f"{staging}_sliced")
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert len(files) == 6

    def run_phase(names):
        for f in names:
            shutil.copy(
                os.path.join(f"{staging}_sliced", f), os.path.join(silver_in, f)
            )
        q = run_streaming_gold(
            parquet_stream(spark, silver_in, schema),
            gold_path, ckpt, watermark="2 hours",
        )
        q.processAllAvailable()
        q.stop()

    run_phase(files[:3])
    mid = spark.read.parquet(gold_path).agg(F.sum("total_rides_hourly")).first()[0]
    assert 0 < mid < n
    run_phase(files[3:])

    gold = spark.read.parquet(gold_path)
    batch = gold_transform(spark.read.parquet(f"{staging}_sliced"))
    cols = list(GOLD_KEYS) + [
        "total_rides_hourly",
        "avg_fare_hourly",
        "total_suspicious_rides_hourly",
    ]
    assert _sorted_rows(gold, cols) == _sorted_rows(batch, cols)
    assert gold.agg(F.sum("total_rides_hourly")).first()[0] == n


def test_available_now_drains_and_terminates(spark, workdir, bronze_input):
    """Trigger.AvailableNow: the query must drain the existing backlog,
    TERMINATE ON ITS OWN (no stop() call), and a second invocation over
    the same checkpoint must be a no-op — the scheduled-incremental-batch
    mode (process what arrived since last run, exactly-once)."""
    from real_time_rides_data_pipeline_spark.sinks import stream_append_parquet

    input_path, _ = bronze_input
    out = f"{workdir}/avail_silver"
    ckpt = f"{workdir}/avail_ckpt"
    silver = silver_transform(
        parquet_stream(spark, input_path, BRONZE_SCHEMA), watermark="2 hours"
    )
    q = (
        stream_append_parquet(silver, out, ckpt, trigger_seconds=None)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    n1 = spark.read.parquet(out).count()
    batch = silver_transform(spark.read.parquet(input_path))
    assert n1 == batch.count()
    # rerun with nothing new: terminates immediately, appends nothing
    q2 = (
        stream_append_parquet(silver, out, ckpt, trigger_seconds=None)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_cdc_stream_checkpoint_restart_converges(spark, workdir):
    """Stop the CDC-apply stream mid-log and restart from its checkpoint:
    the version-guarded merge + the in-table batch marker must make the
    restart invisible — final state equals the single-pass batch answer
    (last non-delete op per user, additive op counts, no double-count of
    the batch that straddles the stop)."""
    from pyspark.sql import Window

    from real_time_rides_data_pipeline_spark.sinks import merge_cdc_parquet
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    inp = f"{workdir}/cdcr_in"
    target = f"{workdir}/cdcr_state"
    ckpt = f"{workdir}/cdcr_ckpt"
    os.makedirs(inp)
    cols = "user_id long, event_type string, ts long, event_id long, cents long"
    ops = [
        (u, t, ts, eid, c)
        for eid, (u, t, ts, c) in enumerate(
            [
                (1, "upsert", 10, 100), (2, "upsert", 11, 200),
                (1, "error", 20, 0),    (3, "upsert", 12, 300),
                (2, "upsert", 25, 250), (1, "upsert", 30, 150),
                (3, "error", 40, 0),    (2, "error", 5, 0),  # stale delete
            ]
        )
    ]
    schema = spark.createDataFrame(ops, cols).schema

    def write_file(rows, name):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode(
            "append"
        ).parquet(f"{workdir}/cdcr_stage_{name}")
        import glob as _g

        src = _g.glob(f"{workdir}/cdcr_stage_{name}/*.parquet")[0]
        shutil.copy(src, f"{inp}/{name}.parquet")

    def apply_batch(bdf, batch_id):
        if bdf.isEmpty():
            return
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        compact = (
            bdf.select(
                "user_id",
                F.col("event_type").alias("last_op"),
                F.col("cents").alias("last_cents"),
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.row_number().over(w).alias("__rn"),
                F.count(F.lit(1)).over(
                    Window.partitionBy("user_id")
                ).alias("n_ops"),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merge_cdc_parquet(
            bdf.sparkSession, compact, target,
            keys=("user_id",),
            order_cols=("last_ts", "last_event_id"),
            add_cols=("n_ops",),
            batch_id=batch_id,
        )

    def run_once():
        q = (
            parquet_stream(spark, inp, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write_file(ops[:4], "a")
    run_once()  # phase 1: first half, then STOP (checkpoint persists)
    write_file(ops[4:], "b")
    run_once()  # phase 2: restart from checkpoint, drain the rest

    rows = {
        r["user_id"]: r
        for r in spark.read.parquet(target)
        .filter(F.col("last_op") != "error")
        .collect()
    }
    # batch answer: u1 last=upsert@30 (3 ops), u2 last=upsert@25 (3 ops,
    # the ts=5 delete is stale), u3 last=error@40 (tombstoned, absent)
    assert set(rows) == {1, 2}
    assert rows[1]["last_cents"] == 150 and rows[1]["n_ops"] == 3
    assert rows[2]["last_cents"] == 250 and rows[2]["n_ops"] == 3


def test_statestore_reader_exposes_dedup_state(spark, workdir):
    """Spark 4's state-store reader (spark.read.format('statestore')) — the
    operational surface for debugging stateful streams: after a keyed
    dropDuplicates stream commits, the checkpoint's state rows must be
    readable as a DataFrame and contain exactly the deduped keys. This is
    how a 100 TB pipeline inspects (and, with the companion state-metadata
    source, right-sizes) streaming state without replaying the stream."""
    from real_time_rides_data_pipeline_spark.operators import stream_dedup

    input_path = f"{workdir}/ssr_input"
    ckpt = f"{workdir}/ssr_ckpt"
    out = f"{workdir}/ssr_out"
    rows = [
        ("R1", "2024-01-01 10:00:00"),
        ("R1", "2024-01-01 10:00:00"),  # exact dup
        ("R2", "2024-01-01 10:05:00"),
        ("R3", "2024-01-01 10:06:00"),
    ]
    spark.createDataFrame(rows, "ride_id string, ts string").withColumn(
        "event_timestamp", F.col("ts").cast("timestamp")
    ).drop("ts").coalesce(1).write.mode("overwrite").parquet(input_path)
    schema = spark.read.parquet(input_path).schema

    stream = parquet_stream(spark, input_path, schema)
    sq = (
        stream_dedup(stream, keys=("ride_id",))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()

    state = spark.read.format("statestore").load(ckpt)
    keys = sorted(r["key"]["ride_id"] for r in state.collect())
    assert keys == ["R1", "R2", "R3"], keys

    meta = spark.read.format("state-metadata").load(ckpt)
    ops = {r["operatorName"] for r in meta.collect()}
    assert "dedupe" in ops or len(ops) == 1, ops


def _forks_so_far() -> int:
    """Processes forked on this host since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


@pytest.mark.skipif(
    not os.path.exists("/proc/stat") or bool(os.environ.get("SPARK_MASTER")),
    reason="counts forks on a Linux host; local-mode checkpoint manager only",
)
def test_stream_checkpoint_commits_fork_no_process_per_file(spark, workdir):
    """Checkpoint writes must not fork a process per file. Without the
    libhadoop native library, Hadoop's local FileContext runs `readlink`
    on every rename or exists check and `chmod` on every file it creates,
    and a RocksDB snapshot commit writes a zip, SSTs and checksum files per
    state partition. On a 4-CPU Linux host without libhadoop, this
    two-batch watermarked dedup at 8 state partitions forked about 1,700
    processes with the FileContext manager and snapshot-only state, and
    about 585 with the session's FileSystem manager and changelog
    checkpointing; the bound sits midway, so a conf edit that brings the
    forks back fails here."""
    from real_time_rides_data_pipeline_spark.operators import stream_dedup
    from real_time_rides_data_pipeline_spark.session import scoped_writer_session

    input_path = f"{workdir}/forks_input"
    for day in (1, 2):
        spark.range(200).select(
            F.format_string("R%d_%d", F.lit(day), "id").alias("ride_id"),
            # 2024-01-0<day> 10:00 UTC plus id seconds: day 2 passes
            # day 1's watermark, so batch 2 also evicts state
            F.timestamp_seconds(F.col("id") + 1704103200 + 86400 * (day - 1))
            .alias("event_timestamp"),
        ).coalesce(1).write.mode("append").parquet(input_path)
    session = scoped_writer_session(spark, 8)
    stream = parquet_stream(session, input_path, spark.read.parquet(input_path).schema)
    before = _forks_so_far()  # before start(): the first batch may run at once
    sq = (
        stream_dedup(stream, keys=("ride_id",), watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", f"{workdir}/forks_out")
        .option("checkpointLocation", f"{workdir}/forks_ckpt")
        .outputMode("append")
        .start()
    )
    sq.processAllAvailable()
    forks = _forks_so_far() - before
    sq.stop()
    assert spark.read.parquet(f"{workdir}/forks_out").count() == 400
    assert forks < 1_150, f"{forks} processes forked by a two-batch drain"


def _stream_thread_ticks(pid: int) -> tuple[int, int]:
    """(user + system CPU clock ticks spent so far, thread count) of the
    JVM ``pid``'s stream execution threads. Linux keeps the first 15
    characters of a thread's name."""
    ticks = threads = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:  # the thread ended while being read
            continue
        if head.split("(", 1)[1] == "stream execution"[:15]:
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
            threads += 1
    return ticks, threads


@pytest.mark.skipif(
    not os.path.exists("/proc/self/task") or bool(os.environ.get("SPARK_MASTER")),
    reason="reads the local driver JVM's threads from /proc on Linux",
)
def test_idle_file_stream_does_not_spin(spark, workdir):
    """A stream without a trigger interval that finds no new data sleeps
    ``spark.sql.streaming.pollingDelay`` and then asks its file source
    again, which re-reads the upstream sink's ``_spark_metadata`` log.
    Over 3 idle seconds after draining a stream over a 5-batch file-sink
    directory, the driver JVM's stream execution thread spent 0.94 CPU s
    at Spark's 10 ms delay and 0.16 s at the session's 100 ms (4 CPUs,
    this module run whole); the bound sits midway, so a session edit
    that brings the 10 ms spin back fails here. The stream runs in a
    writer-session clone, which must poll at its parent's delay, also
    one set at runtime."""
    import time

    from real_time_rides_data_pipeline_spark.session import scoped_writer_session

    key = "spark.sql.streaming.pollingDelay"
    delay = spark.conf.get(key)
    spark.conf.set(key, "150ms")  # a runtime value, not the SparkConf's
    try:
        assert scoped_writer_session(spark, 2).conf.get(key) == "150ms"
    finally:
        spark.conf.set(key, delay)
    clone = scoped_writer_session(spark, 2)
    schema = spark.range(0).schema
    input_path, sink = f"{workdir}/idle_input", f"{workdir}/idle_sink"
    for i in range(5):
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.mode(
            "append"
        ).parquet(input_path)
    run_to_completion(
        parquet_stream(spark, input_path, schema, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", f"{workdir}/idle_sink_ckpt")
    )
    sq = (
        parquet_stream(clone, sink, schema)
        .writeStream.format("noop")
        .option("checkpointLocation", f"{workdir}/idle_ckpt")
        .start()
    )
    try:
        sq.processAllAvailable()
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        before, threads = _stream_thread_ticks(jvm)
        time.sleep(3)
        idle = _stream_thread_ticks(jvm)[0] - before
    finally:
        sq.stop()
    assert threads >= 1, "no stream execution thread found in /proc"
    tick = os.sysconf("SC_CLK_TCK")
    assert idle / tick < 0.55, f"{idle / tick:.2f} CPU s spent by an idle stream in 3 s"


def test_socket_source_streams_live_lines(spark, workdir):
    """A LIVE network streaming source end-to-end — the closest available
    analog to the reference's Kafka read (sources/kafka.py is
    environment-blocked: no spark-sql-kafka jar in the container): a local
    TCP server feeds the built-in socket source, the stream parses the
    reference's CSV-ish line shape and a memory sink receives the rows.
    Proves the readStream -> parse -> sink chain works against a real
    network source, not only file replay."""
    import socket
    import threading
    import time

    lines = ["R1,12.5", "R2,7.25", "R3,99.0"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(3)  # keep the pipe open past the first micro-batch

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    parsed = stream.select(
        F.split("value", ",")[0].alias("ride_id"),
        F.split("value", ",")[1].cast("double").alias("fare"),
    )
    sq = (
        parsed.writeStream.format("memory")
        .queryName("socket_rides")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM socket_rides").count() >= len(lines):
                break
            time.sleep(0.25)
        got = sorted(
            (r.ride_id, r.fare)
            for r in spark.sql("SELECT * FROM socket_rides").collect()
        )
    finally:
        sq.stop()
        srv.close()
    assert got == [("R1", 12.5), ("R2", 7.25), ("R3", 99.0)], got


def test_rate_source_produces_monotonic_rows(spark):
    """The built-in rate source (the load-generator twin of the seeded
    Kafka producer): rows must arrive with monotonically increasing
    values and the (timestamp, value) schema the generator contract
    expects to feed downstream."""
    import time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
    )
    sq = (
        stream.writeStream.format("memory")
        .queryName("rate_rows")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rate_rows").count() >= 20:
                break
            time.sleep(0.25)
        vals = sorted(r.value for r in spark.sql("SELECT value FROM rate_rows").collect())
    finally:
        sq.stop()
    assert len(vals) >= 20
    assert vals == list(range(vals[0], vals[0] + len(vals))), vals[:5]


class _FakeGroupState:
    """Minimal GroupState stand-in for driving a state-update function
    directly (no stream) — exists/get/update are all the decayed fold uses."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_decayed_fold_corrects_late_predecessor():
    """A late arrival that lands BEFORE already-scored events must re-emit
    corrected scores for every event whose 16-tap window it entered —
    and only for those (the |batch|+15 correction bound)."""
    import pandas as pd

    from real_time_rides_data_pipeline_spark.streaming.stateful import (
        _update_decayed,
    )

    def batch(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "ts": pd.to_datetime([t for t, _, _ in rows], unit="s"),
                "event_id": [e for _, e, _ in rows],
                "value": [v for _, _, v in rows],
            }
        )

    state = _FakeGroupState()
    # batch 1: events at t=100 (100 cents) and t=300 (300 cents)
    out1 = pd.concat(
        _update_decayed((7,), [batch([(100, 1, 1.0), (300, 3, 3.0)])], state)
    )
    got1 = dict(zip(out1["event_id"], out1["decayed"]))
    assert got1 == {1: 100 * 2**15, 3: 300 * 2**15 + 100 * 2**14}
    # batch 2: LATE event at t=200 (200 cents) — inserts between them
    out2 = pd.concat(
        _update_decayed((7,), [batch([(200, 2, 2.0)])], state)
    )
    got2 = dict(zip(out2["event_id"], out2["decayed"]))
    # event 1 precedes the insertion → NOT re-emitted; 2 scored, 3 corrected
    assert got2 == {
        2: 200 * 2**15 + 100 * 2**14,
        3: 300 * 2**15 + 200 * 2**14 + 100 * 2**13,
    }
    # redelivery of the same late row is idempotent (same emissions, same state)
    out3 = pd.concat(
        _update_decayed((7,), [batch([(200, 2, 2.0)])], state)
    )
    got3 = dict(zip(out3["event_id"], out3["decayed"]))
    assert got3 == got2


def test_three_layer_queries_run_concurrently(spark, workdir):
    """SURVEY §3.4 / VERDICT r12 item 6: the reference runs bronze, silver
    and gold as three SIMULTANEOUSLY-live streaming queries composed via
    storage — not sequentially. All three run at once here: wire frames
    keep landing while every query is live, data flows
    wire → bronze parquet → silver parquet → gold MERGE across two
    _spark_metadata-logged sink→source boundaries (each downstream
    FileStreamSource must read its upstream's streaming-sink metadata log
    while that sink is still committing batches), and at quiesce Gold must
    equal the batch aggregate of the Bronze landing. Fails if cross-query
    composition breaks — e.g. a Silver sink commit invisible to Gold's
    reader, or a metadata-log read racing an in-flight commit."""
    import time

    from real_time_rides_data_pipeline_spark.operators import cast_project
    from real_time_rides_data_pipeline_spark.sinks import stream_append_parquet
    from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

    base = f"{workdir}/concurrent"
    wire = f"{base}/wire"
    bronze_path, silver_path = f"{base}/bronze", f"{base}/silver"
    gold_path = f"{base}/gold"
    for d in (wire, bronze_path, silver_path):
        os.makedirs(d, exist_ok=True)

    events = generate_events(GenConfig(seed=11, n_events=400))
    wire_schema = "key binary, value binary, timestamp timestamp"
    chunks = 4
    per = (len(events) + chunks - 1) // chunks

    def land(i: int) -> None:
        part = [
            (
                e["_ride_id"].encode(),
                e["json"].encode(),
                e["timestamp"],
            )
            for e in events[i * per : (i + 1) * per]
        ]
        spark.createDataFrame(part, wire_schema).coalesce(1).write.mode(
            "append"
        ).parquet(wire)

    land(0)

    from real_time_rides_data_pipeline_spark.schemas import BRONZE_SCHEMA

    silver_schema = silver_transform(
        spark.createDataFrame([], BRONZE_SCHEMA)
    ).schema

    qb = stream_append_parquet(
        cast_project(
            parquet_stream(spark, wire, spark.read.parquet(wire).schema)
        ),
        bronze_path,
        f"{base}/ckpt_bronze",
    ).start()
    qs = run_streaming_silver(
        parquet_stream(spark, bronze_path, BRONZE_SCHEMA),
        silver_path,
        f"{base}/ckpt_silver",
        watermark="2 hours",
    )
    qg = run_streaming_gold(
        parquet_stream(spark, silver_path, silver_schema),
        gold_path,
        f"{base}/ckpt_gold",
        watermark="2 hours",
    )
    try:
        assert qb.isActive and qs.isActive and qg.isActive
        # keep landing input while all three queries are live, so upstream
        # sink commits genuinely interleave with downstream source reads
        for i in range(1, chunks):
            land(i)
            time.sleep(0.5)
        # quiesce: drain in topological order; a second pass catches files
        # committed by an upstream sink after the downstream's first drain
        for _ in range(2):
            qb.processAllAvailable()
            qs.processAllAvailable()
            qg.processAllAvailable()
    finally:
        for q in (qg, qs, qb):
            q.stop()

    gold = spark.read.parquet(gold_path)
    batch = batch_pipeline(spark.read.parquet(bronze_path))
    cols = list(GOLD_KEYS) + [
        "total_rides_hourly",
        "avg_fare_hourly",
        "total_suspicious_rides_hourly",
    ]
    assert _sorted_rows(gold, cols) == _sorted_rows(batch, cols)
    # the reference's own Gold invariant: Σ hourly counts == Silver rows
    silver_n = spark.read.parquet(silver_path).count()
    assert gold.agg(F.sum("total_rides_hourly")).first()[0] == silver_n
    # and the bronze landing lost nothing on the wire
    assert spark.read.parquet(bronze_path).count() == len(events)


def test_restart_evolve_one_checkpoint_two_schemas(spark, workdir):
    """The q_stream_restart_evolve lifecycle pins (round 14, r13 VERDICT
    item 6): ONE checkpoint serves both query lifetimes across a schema
    change — the offset log records exactly two batches (one per run; a
    v1 re-read would add a third commit and duplicate rows), and the
    merged sink read widens run-1 rows with NULL."""
    work = f"{workdir}/restart_evolve"
    inp, out, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    v1 = spark.createDataFrame(
        [(1, 10), (2, 20)], "event_id bigint, user_id bigint"
    )
    v2 = spark.createDataFrame(
        [(3, 30, "s3")], "event_id bigint, user_id bigint, session_tag string"
    )
    v1.coalesce(1).write.parquet(inp)

    def run_once(schema):
        q = (
            parquet_stream(spark, inp, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(v1.schema)
    v2.coalesce(1).write.mode("append").parquet(inp)
    run_once(v2.schema)
    commits = [
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    ]
    assert sorted(commits) == ["0", "1"], commits
    rows = {
        (r.event_id, r.session_tag)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(out)
        .collect()
    }
    assert rows == {(1, None), (2, None), (3, "s3")}, rows


def _two_batch_replay(spark, work):
    """A 2-file parquet directory replayed one file per trigger: 2 batches."""
    inp = f"{work}/in"
    for lo in (0, 10):
        spark.range(lo, lo + 10).coalesce(1).write.mode("append").parquet(inp)
    return parquet_stream(
        spark, inp, spark.range(0).schema, max_files_per_trigger=1
    )


def test_run_to_completion_drains_then_stops(spark, workdir):
    """The helper starts the writer, drains every available batch, stops
    the query, and hands it back with its progress still readable."""
    work = f"{workdir}/rtc_drain"
    seen = []
    q = run_to_completion(
        _two_batch_replay(spark, work)
        .writeStream.foreachBatch(lambda bdf, bid: seen.append((bid, bdf.count())))
        .option("checkpointLocation", f"{work}/ckpt")
    )
    assert not q.isActive
    assert [p.batchId for p in q.recentProgress] == [0, 1]
    assert seen == [(0, 10), (1, 10)]


def test_run_to_completion_stops_a_failed_query(spark, workdir):
    """A batch that raises surfaces as StreamingQueryException, and the
    query is stopped rather than left running in the session."""
    from pyspark.errors import StreamingQueryException

    work = f"{workdir}/rtc_fail"
    name = "rtc_fail_on_batch_1"

    def sink(bdf, bid):
        if bid == 1:
            raise RuntimeError("injected failure on batch 1")

    with pytest.raises(StreamingQueryException, match="injected failure"):
        run_to_completion(
            _two_batch_replay(spark, work)
            .writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", f"{work}/ckpt")
        )
    assert name not in {q.name for q in spark.streams.active}


def test_query_modules_leave_stream_lifecycle_to_the_helper():
    """Bounded streams in the registry start, drain and stop only through
    ``streaming.replay.run_to_completion``: no query module drains a
    query by hand."""
    import glob

    import real_time_rides_data_pipeline_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    hits = {}
    for path in sorted(glob.glob(f"{pkg_dir}/queries*.py")):
        with open(path) as f:
            n = f.read().count("processAllAvailable(")
        if n:
            hits[os.path.basename(path)] = n
    assert hits == {}


def test_stage_batches_replays_one_batch_per_frame_in_order(spark, workdir):
    """Frames of 25, 0 and 7 rows, one file each, replay under
    maxFilesPerTrigger=1 as three micro-batches in frame order — the
    zero-row frame included."""
    inp = stage_batches(
        "stage_order",
        workdir,
        lambda: [
            spark.range(0, 25).coalesce(1),
            spark.range(0).limit(0),
            spark.range(25, 32).coalesce(1),
        ],
    )
    q = run_to_completion(
        parquet_stream(spark, inp, spark.range(0).schema, max_files_per_trigger=1)
        .writeStream.format("noop")
        .option("checkpointLocation", f"{workdir}/stage_order_ckpt")
    )
    assert [p.numInputRows for p in q.recentProgress] == [25, 0, 7]


def test_stage_batches_replays_a_frames_files_in_part_order(spark, workdir):
    """A two-file frame replays one file per micro-batch in part-file
    order (rows 0-2, then 3-6), then the next frame: every staged file
    has its own mtime, so the schedule does not follow the listing order
    of the part files' random names."""
    inp = stage_batches(
        "stage_parts",
        workdir,
        lambda: [spark.range(0, 7, numPartitions=2), spark.range(7, 8).coalesce(1)],
    )
    files = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))
    mtimes = [os.path.getmtime(os.path.join(inp, f)) for f in files]
    assert len(set(mtimes)) == len(files) == 3
    q = run_to_completion(
        parquet_stream(spark, inp, spark.range(0).schema, max_files_per_trigger=1)
        .writeStream.format("noop")
        .option("checkpointLocation", f"{workdir}/stage_parts_ckpt")
    )
    assert [p.numInputRows for p in q.recentProgress] == [3, 4, 1]


def test_stage_batches_second_call_is_a_pure_lookup(spark, workdir):
    """The same (tag, sf_dir) returns the staged path without calling
    ``frames`` and without starting a Spark job."""
    calls = []

    def frames():
        calls.append(1)
        return [spark.range(3).coalesce(1)]

    first = stage_batches("stage_memo", workdir, frames)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    again = stage_batches("stage_memo", workdir, frames)
    assert again == first
    assert calls == [1]
    assert set(tracker.getJobIdsForGroup()) - jobs_before == set()


def test_replay_stream_pins_width_on_a_clone_only(spark, workdir):
    """With a width, the stream runs in a session clone whose shuffle
    width is pinned and the parent's width is left as it was; without
    one, it runs in the parent session. One tag stages its frames once,
    and every call gets its own run dir."""
    calls = []

    def frames():
        calls.append(1)
        return [spark.range(3).coalesce(1)]

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "3"
    schema = spark.range(0).schema
    pinned, run1 = replay_stream(spark, "replay_width", workdir, frames, schema, width=3)
    plain, run2 = replay_stream(spark, "replay_width", workdir, frames, schema)
    assert pinned.sparkSession is not spark
    assert pinned.sparkSession.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    assert plain.sparkSession is spark
    assert calls == [1]
    assert run1 != run2
    assert os.path.isdir(run1) and os.path.isdir(run2)


def test_sentinel_frame_is_max_plus_hours_under_a_non_utc_driver(spark):
    """The sentinel timestamp is exactly max(ts) + hours even when the
    driver's OS timezone is not UTC: nothing passes through a Python
    datetime."""
    import time

    df = spark.sql(
        "SELECT * FROM VALUES (1L, 7L, TIMESTAMP '2024-01-30 23:15:00'),"
        " (2L, 8L, TIMESTAMP '2024-01-31 22:45:30') AS t(event_id, user_id, ts)"
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        sentinel = sentinel_frame(df, "ts", 3, {"event_id": -1, "user_id": -2})
        rows = sentinel.select(
            "event_id", "user_id", F.unix_micros("ts").alias("us")
        ).collect()
        max_us = df.agg(F.unix_micros(F.max("ts"))).first()[0]
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert sentinel.columns == df.columns
    assert sentinel.dtypes == df.dtypes
    assert [tuple(r) for r in rows] == [(-1, -2, max_us + 3 * 3_600_000_000)]
