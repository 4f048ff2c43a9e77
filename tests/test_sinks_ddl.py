"""Sink/DDL suite: Gold DDL round-trip (SURVEY §2.1 ``ddl_create``), Silver
schema evolution (``mergeSchema`` twin of 02_silver:114), and the guarded
Delta production path (skipped where delta-spark is absent, runs anywhere it
exists)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from real_time_rides_data_pipeline_spark.ddl import (
    GOLD_DDL_COLUMNS,
    create_gold_table,
    insert_overwrite,
)
from real_time_rides_data_pipeline_spark import sinks
from real_time_rides_data_pipeline_spark.sinks import stream_append_parquet
from real_time_rides_data_pipeline_spark.sources.files import parquet_stream

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ddl_roundtrip(spark, tmp_path):
    """create_gold_table → insert_overwrite → read back: the Gold schema of
    03_gold_realtime_rides.py:77-87 survives a full DDL round-trip."""
    table = create_gold_table(
        spark,
        table="rides_gold_ddl_test",
        location=f"{tmp_path}/gold_tbl",
        drop_first=True,
    )
    try:
        gold = spark.createDataFrame(
            [
                (
                    "2024-01-01 10:00:00",
                    "2024-01-01 11:00:00",
                    "DRV001",
                    5,
                    123.45,
                    1,
                    "2024-01-01 11:00:05",
                )
            ],
            "ws string, we string, d string, n long, f double, s long, p string",
        ).select(
            F.col("ws").cast("timestamp"),
            F.col("we").cast("timestamp"),
            F.col("d"),
            F.col("n"),
            F.col("f"),
            F.col("s"),
            F.col("p").cast("timestamp"),
        )
        insert_overwrite(gold, table)
        back = spark.table(table)
        got_schema = [(f.name, f.dataType.simpleString()) for f in back.schema.fields]
        want_schema = [
            (name, {"TIMESTAMP": "timestamp", "STRING": "string",
                    "BIGINT": "bigint", "DOUBLE": "double"}[typ])
            for name, typ in GOLD_DDL_COLUMNS
        ]
        assert got_schema == want_schema
        row = back.first()
        assert row.driver_id == "DRV001"
        assert row.total_rides_hourly == 5
        assert row.avg_fare_hourly == 123.45
        # IF NOT EXISTS: re-issuing the DDL must not error or wipe data
        create_gold_table(spark, table="rides_gold_ddl_test")
        assert spark.table(table).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_append_merge_schema(spark, tmp_path):
    """Schema-evolution contract of the Silver sink (02_silver:114): a
    restarted stream whose source grew a column appends widened files; the
    merged read shows old rows with NULL in the new column — old and new
    schema rows coexist."""
    src = f"{tmp_path}/src"
    out = f"{tmp_path}/out"
    ckpt = f"{tmp_path}/ckpt"

    spark.createDataFrame(
        [("R1", 10.0)], "ride_id string, fare double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema_v1 = spark.read.parquet(src).schema

    q = stream_append_parquet(
        parquet_stream(spark, src, schema_v1),
        out,
        ckpt,
        trigger_seconds=None,
    ).start()
    q.processAllAvailable()
    q.stop()

    # upstream evolves: a new column appears in newly arriving files
    spark.createDataFrame(
        [("R2", 20.0, "surge")], "ride_id string, fare double, tag string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema_v2 = spark.read.schema(
        "ride_id string, fare double, tag string"
    ).parquet(src).schema

    # restart from the SAME checkpoint with the widened schema: only the new
    # file is processed (offsets persisted), its rows carry the new column
    q = stream_append_parquet(
        parquet_stream(spark, src, schema_v2),
        out,
        ckpt,
        trigger_seconds=None,
    ).start()
    q.processAllAvailable()
    q.stop()

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    rows = {r.ride_id: (r.fare, r.tag) for r in merged.collect()}
    assert rows == {"R1": (10.0, None), "R2": (20.0, "surge")}


# --------------------------------------------------------------------------
# Guarded Delta path: compiled/exercised wherever delta-spark exists; the
# subprocess builds its own Delta-enabled session (extensions are
# builder-time config, so the shared test session can't be reused).
# --------------------------------------------------------------------------

_DELTA_SCRIPT = """
import sys
from real_time_rides_data_pipeline_spark.session import get_spark
from real_time_rides_data_pipeline_spark import ddl, sinks

assert sinks.HAVE_DELTA
spark = get_spark(
    app_name="delta-e2e",
    cpus=2,
    extra_conf={
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog":
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
    },
)
target = sys.argv[1] + "/gold_delta"
first = spark.createDataFrame(
    [("w1", "d1", 1)], "window_start string, driver_id string, total long"
)
sinks.merge_upsert_delta(spark, first, target, ("window_start", "driver_id"))
update = spark.createDataFrame(
    [("w1", "d1", 10), ("w2", "d2", 2)],
    "window_start string, driver_id string, total long",
)
sinks.merge_upsert_delta(spark, update, target, ("window_start", "driver_id"))
rows = {
    (r.window_start, r.driver_id): r.total
    for r in spark.read.format("delta").load(target).collect()
}
assert rows == {("w1", "d1"): 10, ("w2", "d2"): 2}, rows
t = ddl.create_gold_table(
    spark, table="rides_gold_delta_test",
    location=sys.argv[1] + "/gold_tbl", drop_first=True,
)
assert spark.sql(f"DESCRIBE DETAIL {t}").first().format == "delta"
print("DELTA-OK")
"""


def test_delta_merge_and_ddl(tmp_path):
    pytest.importorskip("delta", reason="delta-spark not installed here")
    env = {**os.environ, "PYTHONPATH": REPO_DIR}
    proc = subprocess.run(
        [sys.executable, "-c", _DELTA_SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO_DIR,
    )
    assert proc.returncode == 0 and "DELTA-OK" in proc.stdout, proc.stderr[-2000:]


def test_compact_parquet_dir_preserves_data(spark, tmp_path):
    """Fragmented sink dir → few files, identical rows, stable schema."""
    import os

    from real_time_rides_data_pipeline_spark.sinks import compact_parquet_dir
    from real_time_rides_data_pipeline_spark.sources import load_fixture
    from tests.conftest import SMOKE_SF

    d = load_fixture(spark, "documents", SMOKE_SF)
    path = str(tmp_path / "frag")
    d.repartition(32).write.parquet(path)
    n_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert n_before >= 32
    before = sorted(r.doc_id for r in d.collect())
    n_after = compact_parquet_dir(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n_after < n_before
    got = spark.read.parquet(path)
    assert sorted(r.doc_id for r in got.collect()) == before
    assert set(got.columns) == set(d.columns)


def test_kafka_options_match_reference_contract():
    """The Kafka source builder (runtime-blocked here: no connector jar)
    must reproduce the reference's option contract
    (01_bronze_realtime_rides.py:26-42): topic subscribe, earliest
    offsets, SASL_SSL/PLAIN when credentials are supplied, and the
    backpressure cap that bounds the first micro-batch."""
    from real_time_rides_data_pipeline_spark.sources.kafka import kafka_options

    plain = kafka_options("broker:9092")
    assert plain["subscribe"] == "rides_stream"
    assert plain["startingOffsets"] == "earliest"
    assert plain["kafka.bootstrap.servers"] == "broker:9092"
    assert int(plain["maxOffsetsPerTrigger"]) > 0
    assert "kafka.sasl.jaas.config" not in plain

    auth = kafka_options("b:9092", sasl_username="u", sasl_password="p")
    assert auth["kafka.security.protocol"] == "SASL_SSL"
    assert auth["kafka.sasl.mechanism"] == "PLAIN"
    assert 'username="u"' in auth["kafka.sasl.jaas.config"]
    assert auth["kafka.sasl.jaas.config"].rstrip().endswith(";")


def test_kafka_stream_raises_clear_error_without_jar(spark):
    from real_time_rides_data_pipeline_spark.sources.kafka import kafka_stream

    import pytest

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_stream(spark, bootstrap_servers="b:9092")


def test_merge_cdc_parquet_version_guard_and_tombstones(spark, tmp_path):
    """Out-of-order CDC batches must converge: an OLDER late-arriving
    upsert can neither regress a newer row's state nor resurrect a
    tombstoned key, while the additive accumulator keeps counting."""
    from real_time_rides_data_pipeline_spark.sinks import merge_cdc_parquet

    target = str(tmp_path / "state")
    cols = "user_id long, last_op string, last_ts long, n_ops long"
    # batch 1 (arrives FIRST but holds the NEWEST ops): u1 upsert@t=10,
    # u2 tombstone@t=20
    b1 = spark.createDataFrame(
        [(1, "upsert", 10, 3), (2, "error", 20, 2)], cols
    )
    merge_cdc_parquet(
        spark, b1, target, keys=("user_id",),
        order_cols=("last_ts",), add_cols=("n_ops",),
    )
    # batch 2 (late, OLDER ops): u1 upsert@t=5 (must lose), u2 upsert@t=15
    # (must NOT resurrect the t=20 tombstone), u3 brand new
    b2 = spark.createDataFrame(
        [(1, "stale", 5, 1), (2, "upsert", 15, 4), (3, "upsert", 7, 1)], cols
    )
    merge_cdc_parquet(
        spark, b2, target, keys=("user_id",),
        order_cols=("last_ts",), add_cols=("n_ops",),
    )
    rows = {r["user_id"]: r for r in spark.read.parquet(target).collect()}
    assert rows[1]["last_op"] == "upsert" and rows[1]["last_ts"] == 10
    assert rows[1]["n_ops"] == 4  # 3 + 1 — additive across both batches
    assert rows[2]["last_op"] == "error" and rows[2]["last_ts"] == 20
    assert rows[2]["n_ops"] == 6
    assert rows[3]["last_op"] == "upsert" and rows[3]["n_ops"] == 1


def test_merge_cdc_parquet_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch with the same
    batch_id must be a no-op — without the marker the version guard keeps
    state correct but the additive n_ops would silently double-count."""
    from real_time_rides_data_pipeline_spark.sinks import merge_cdc_parquet

    target = str(tmp_path / "state")
    cols = "user_id long, last_op string, last_ts long, n_ops long"
    b0 = spark.createDataFrame([(1, "upsert", 10, 3)], cols)
    b1 = spark.createDataFrame([(1, "upsert", 20, 2)], cols)
    kw = dict(keys=("user_id",), order_cols=("last_ts",), add_cols=("n_ops",))
    merge_cdc_parquet(spark, b0, target, batch_id=0, **kw)
    merge_cdc_parquet(spark, b1, target, batch_id=1, **kw)
    merge_cdc_parquet(spark, b1, target, batch_id=1, **kw)  # replay
    merge_cdc_parquet(spark, b0, target, batch_id=0, **kw)  # stale replay
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1
    assert rows[0]["last_ts"] == 20 and rows[0]["n_ops"] == 5  # 3+2, not 3+2+2+3


def test_swap_dir_recovery_and_marker_preservation(spark, tmp_path):
    """Round-6 follow-up review: (a) a crash in _swap_dir's one-rename
    window leaves an .__old_ aside copy that the next merge must restore,
    not silently bootstrap over; (b) a batch_id-less backfill merge must
    CARRY the replay marker forward, not erase it."""
    import os

    from real_time_rides_data_pipeline_spark.sinks import (
        _read_batch_marker,
        merge_cdc_parquet,
    )

    target = str(tmp_path / "state")
    cols = "user_id long, last_op string, last_ts long, n_ops long"
    kw = dict(keys=("user_id",), order_cols=("last_ts",), add_cols=("n_ops",))
    merge_cdc_parquet(
        spark, spark.createDataFrame([(1, "upsert", 10, 3)], cols),
        target, batch_id=0, **kw,
    )
    # simulate the crash window: target renamed aside, nothing renamed in
    os.rename(target, f"{target}.__old_deadbeef")
    merge_cdc_parquet(
        spark, spark.createDataFrame([(2, "upsert", 5, 1)], cols),
        target, batch_id=1, **kw,
    )
    rows = {r["user_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(rows) == {1, 2}, "aside copy was not recovered before merge"
    assert rows[1]["n_ops"] == 3
    # (b) backfill without batch_id must keep marker=1
    merge_cdc_parquet(
        spark, spark.createDataFrame([(3, "upsert", 7, 1)], cols),
        target, **kw,
    )
    assert sinks._read_batch_marker(target) == 1
    # replay of batch 1 after the backfill is still a no-op
    merge_cdc_parquet(
        spark, spark.createDataFrame([(2, "upsert", 5, 1)], cols),
        target, batch_id=1, **kw,
    )
    rows = {r["user_id"]: r for r in spark.read.parquet(target).collect()}
    assert rows[2]["n_ops"] == 1 and set(rows) == {1, 2, 3}


# --------------------------------------------------------------------------
# The shared commit path of the parquet MERGE sinks (sinks._merge_into):
# crash-window recovery, replay, marker carry-forward and a failing fold,
# once per public merge.
# --------------------------------------------------------------------------


#: name → merge(spark, updates, target, batch_id) over a (k, v) table
_MERGES = {
    "upsert": lambda spark, df, target, batch_id: sinks.merge_upsert_parquet(
        spark, df, target, ("k",)
    ),
    "cdc": lambda spark, df, target, batch_id: sinks.merge_cdc_parquet(
        spark, df, target, keys=("k",), order_cols=("v",), batch_id=batch_id
    ),
    "distributive": lambda spark, df, target, batch_id: (
        sinks.merge_distributive_parquet(
            spark, df, target, keys=("k",), agg_spec={"v": "sum"},
            batch_id=batch_id,
        )
    ),
    "topk": lambda spark, df, target, batch_id: sinks.merge_topk_parquet(
        spark, df, target, keys=("k",), order_col="v", k=2, batch_id=batch_id
    ),
}


def _tree_bytes(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).select("k", "v").collect())


@pytest.mark.parametrize("name", sorted(_MERGES))
def test_merge_commit_path_survives_crash_replay_and_failure(spark, tmp_path, name):
    """Every parquet MERGE sink commits through one path, so each must:
    restore the ``.__old_*`` aside copy a crash in the one-rename window
    left behind; treat a replay of the last applied batch id as a no-op;
    carry the marker forward through a merge without a batch id; and
    leave table and marker untouched when the fold fails."""
    merge = _MERGES[name]
    target = str(tmp_path / "state")
    cols = "k long, v long"
    merge(spark, spark.createDataFrame([(1, 10), (2, 20)], cols), target, 0)

    # crash between the two renames of the swap: only the aside copy exists
    os.rename(target, f"{target}.__old_deadbeef")
    b1 = spark.createDataFrame([(2, 25), (3, 30)], cols)
    merge(spark, b1, target, 1)
    assert 1 in {k for k, _ in _rows(spark, target)}, "aside copy not restored"
    assert not os.path.exists(f"{target}.__old_deadbeef")

    # replay of the last applied batch id
    rows, files = _rows(spark, target), _tree_bytes(target)
    merge(spark, b1, target, 1)
    assert _rows(spark, target) == rows
    if name != "upsert":  # latest-wins rewrites the same rows
        assert _tree_bytes(target) == files

    # a merge without a batch id keeps the marker
    if name == "upsert":  # it never stamps one; plant one to carry
        with open(os.path.join(target, sinks._BATCH_MARKER), "w") as f:
            f.write("1")
    merge(spark, spark.createDataFrame([(4, 40)], cols), target, None)
    assert sinks._read_batch_marker(target) == 1
    assert 4 in {k for k, _ in _rows(spark, target)}

    # a fold whose result fails to compute commits nothing
    rows, files = _rows(spark, target), _tree_bytes(target)
    poisoned = spark.createDataFrame([(5, 50)], cols).withColumn(
        "v", F.raise_error(F.lit("fold failed")).cast("long")
    )
    with pytest.raises(Exception, match="fold failed"):
        merge(spark, poisoned, target, 2)
    assert _tree_bytes(target) == files
    assert _rows(spark, target) == rows
    assert sinks._read_batch_marker(target) == 1


def test_merge_commit_and_stream_adapter_exist_once():
    """The MERGE commit protocol lives in one function of ``sinks.py``, and
    ``foreach_batch_merge`` is the only code that connects a stream to a
    merge: no function in the package both calls ``foreachBatch`` and a
    ``merge_*`` sink, and no query module probes a batch for emptiness."""
    import ast
    import collections
    import glob

    import real_time_rides_data_pipeline_spark as pkg

    def call_names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Call):
                f = n.func
                yield f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")

    with open(sinks.__file__) as f:
        calls = collections.Counter(call_names(ast.parse(f.read())))
    for name in ("_recover_dir", "_read_batch_marker", "_commit_with_marker"):
        assert calls[name] == 1, (name, calls[name])

    pkg_dir = os.path.dirname(pkg.__file__)
    adapters, hits = [], {}
    for path in sorted(glob.glob(f"{pkg_dir}/**/*.py", recursive=True)):
        with open(path) as f:
            src = f.read()
        rel = os.path.relpath(path, pkg_dir)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.col_offset == 0:
                names = set(call_names(node))
                if "foreachBatch" in names:
                    adapters.append((rel, node.name))
                    assert not any(n.startswith("merge_") for n in names), (
                        rel, node.name
                    )
        if os.path.basename(path).startswith("queries"):
            for needle in ("isEmpty()", "merge_additive_parquet"):
                if needle in src:
                    hits[(rel, needle)] = src.count(needle)
    assert ("sinks.py", "foreach_batch_merge") in adapters
    assert hits == {}
