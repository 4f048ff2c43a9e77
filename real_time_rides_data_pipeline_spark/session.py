"""SparkSession factory.

The reference runs on Databricks (DBR 13.3, Spark 3.4.1, Photon recommended —
``/root/reference/README.md:94-99``); we target OSS Spark >= 4.x. The session
is configured for oracle-grade determinism (UTC timezone, AQE on, Arrow on)
and for local[N] testing while keeping settings that scale to a real cluster
(AQE skew handling, sane shuffle partitioning).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Number of local cores the driver gives us (bench contract: $SPARK_GRAFT_CPUS).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

_SHIPPED_APPS: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers.

    Pandas-UDF / applyInPandasWithState functions defined at module level are
    cloudpickled *by reference* — the worker re-imports the module. That works
    when the driver's cwd is the repo root (workers inherit it) but breaks in
    an arbitrary-cwd host process (e.g. the verify driver running from /tmp).
    Shipping the package as a zip via ``sc.addPyFile`` puts it on every
    worker's ``sys.path`` regardless of cwd — the same mechanism used to ship
    application eggs to a real multi-node cluster.
    """
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        zf.write(full, os.path.relpath(full, parent))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS.add(app)


def get_spark(
    app_name: str = "real_time_rides_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster the ``master`` is provided by the environment; locally we
    default to ``local[cpus]``. ``spark.sql.shuffle.partitions`` defaults to the
    core count (NOT Spark's default 200 — wrong at both extremes); AQE coalesces
    it upward/downward at scale.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle determinism: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: pack small fixture files; at 100 TB this yields ~128MB splits.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Fixture events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert at the source (sources/).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture parquet stores naive (isAdjustedToUTC=false) timestamps;
        # read them as session-tz TIMESTAMP (UTC) rather than TIMESTAMP_NTZ so
        # epoch arithmetic (cast to long, unix_micros) stays legal and plans
        # are identical across Spark 4.x versions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Streaming state at scale: RocksDB keeps dedup/agg state off-heap.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: each state commit writes one changelog
        # file per partition instead of a zip, an SST and their checksum
        # files; a full snapshot is uploaded only every
        # minDeltasForSnapshot batches (by the maintenance thread). Fewer
        # files per commit is fewer checkpoint file operations, and each
        # one costs forked processes on a host without libhadoop (below).
        # Checkpoints written without it still restart: RocksDB loads
        # their last snapshot and writes changelogs from there on.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # Whole-stage-codegen compile cache: the 100-entry default thrashes
        # once a workload has more than ~100 distinct codegen stages (this
        # engine's suite has 150+ queries x multiple stages), forcing a
        # Janino recompile (~50-200 ms) per evicted stage per run. A cache
        # entry is a compiled class (small); 5000 entries is a few hundred
        # MB ceiling that a 128 GiB driver never notices.
        # Raised 100 (default) → 5000 in round 6 (158 keys thrashed the
        # default), → 20000 in round 13: the two-pass compile probe read
        # 3583 distinct stages for the 337-key suite (pass 2: 59 — the
        # 5000 cache still held), leaving <1.4k headroom before the
        # thrash cliff silently returns around ~470 keys.
        .config("spark.sql.codegen.cache.maxEntries", "20000")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if not os.environ.get("SPARK_MASTER"):  # local mode (tests / bench)
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g")
        )
        # Streaming logs and state through Hadoop's FileSystem API instead
        # of the FileContext default. Without the libhadoop native library,
        # the local FileContext shells out to `readlink` on every rename or
        # exists check and to `chmod` on every file it creates: a 20k-event
        # Bronze->Silver->Gold drain forked about 1,970 processes, and about
        # 470 with this setting and changelog checkpointing (4 CPUs).
        # FileContext is Spark's default for its no-overwrite rename on
        # distributed stores; local checkpoints sit on POSIX, where the
        # FileSystem manager's rename is atomic too, and a cluster session
        # keeps the default.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Determinism/layout confs a per-writer session clone must carry over from
#: its parent: oracle-grade timestamp semantics plus the scan/AQE knobs that
#: shape plans. RUNTIME confs only — static confs (codegen cache, state-store
#: provider, memory) live on the shared SparkContext and the clone inherits
#: them; setting one on a session raises CANNOT_MODIFY_STATIC_CONFIG.
#: shuffle.partitions is deliberately NOT here — pinning it per writer is
#: the clone's whole purpose.
_WRITER_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.files.maxPartitionBytes",
)


#: Row count below which an iterative driver loop (CC star rounds, BPE
#: argmax rounds) runs in a NARROW session clone — AQE off, shuffle width
#: ~rows/250k. Rationale: such loops are RDD-barriered (localCheckpoint
#: per round), so AQE cannot optimize ACROSS rounds and only adds
#: per-query-stage planning latency, and a tiny working set on a wide
#: shuffle pays scheduling for empty partitions. Above the bound the
#: parent session (default width, AQE on — the 100 TB configuration) is
#: used unchanged. Measured round 15/16 (OPTIMIZATION_r16.md): CC keys
#: (q_semdedup 6.85 vs 8.39 s, q_dup_clusters 2.91 vs 5.01 s) and the BPE
#: fit (1.79 vs 2.08 s) all favor the clone at fixture scale.
NARROW_LOOP_ROWS = 500_000
_NARROW_VIEW_SEQ = 0


def narrow_loop_session(df, n_rows: int):
    """Return ``df`` rebound to a session sized for an ``n_rows``-row
    iterative loop, plus the parent and a ``rebind(frame, to)`` to hand
    results back. The handoff is a global temp view (shared across
    sessions on one SparkContext), so the checkpointed plan moves
    JVM-side — no Python round-trip, no recompute."""
    global _NARROW_VIEW_SEQ
    parent = df.sparkSession
    width = max(1, n_rows // 250_000)
    clone = scoped_writer_session(parent, width)
    clone.conf.set("spark.sql.adaptive.enabled", "false")

    def rebind(frame, to):
        global _NARROW_VIEW_SEQ
        _NARROW_VIEW_SEQ += 1
        name = f"__narrow_loop_{os.getpid()}_{_NARROW_VIEW_SEQ}"
        frame.createOrReplaceGlobalTempView(name)
        out = to.table(f"global_temp.{name}")
        # The view resolved to the plan; drop the name immediately.
        frame.sparkSession.catalog.dropGlobalTempView(name)
        return out

    return rebind(df, clone), parent, rebind


def scoped_writer_session(
    spark: SparkSession, shuffle_partitions: int
) -> SparkSession:
    """A session CLONE (shared SparkContext + catalog, isolated SQLConf)
    for one stream writer, with the stateful-shuffle width pinned on the
    clone only.

    Streaming state width (``spark.sql.shuffle.partitions`` at first batch,
    frozen into the checkpoint) must be sized to the STATE, not the
    session's fact-table default — but mutating the shared session's conf
    around ``start()`` leaks the override to every concurrent query in the
    window between set and restore. ``newSession()`` gives this writer its
    own SQLConf; determinism-critical parent confs are copied explicitly
    because a fresh SessionState starts from SparkConf defaults, not the
    parent's runtime ``conf.set`` values (a driver-owned vanilla session
    sets e.g. ``nanosAsLong`` at runtime via ``load_fixture``)."""
    clone = spark.newSession()
    for key in _WRITER_CONF_KEYS:
        try:
            value = spark.conf.get(key)
        except Exception:  # no value and no default — leave unset
            continue
        if value is not None:
            clone.conf.set(key, value)
    clone.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return clone
