"""SparkSession factory.

Defaults are tuned for the local[N] test/bench environment but every knob is
chosen to also be the right default on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE fixes it.
- shuffle partitions sized to core count locally; on a real cluster AQE's
  coalescing makes the initial number far less sensitive. ``tables.load``
  fills in the same count only for a session that never set the key.
- UTC session timezone so timestamp semantics are deployment-independent.
- Arrow enabled for any pandas interchange (vectorized, not per-row pickling).
- driver heap sized from the machine (``driver_memory_for``), never a literal.
- Python workers fork from this package's ``daemon`` (stat-gated zip-archive
  invalidation) and import the package from any working directory.
- stream metadata logs (``offsets/``, ``commits/``, a file source's
  ``sources/0``, a file sink's ``_spark_metadata``, HDFS-backed state-store
  deltas) go through ``FileSystemBasedCheckpointFileManager``:
  ``FileSystem.create`` of a temporary file, then ``FileSystem.rename``.
  Spark's default, the FileContext manager, checks each rename's paths
  with link-status calls that, on the local file system without the
  native Hadoop library, fork a ``readlink`` process each (dozens per
  micro-batch). Rename semantics: a log write never overwrites
  (``overwriteIfPossible=false``), so the manager checks ``exists(dst)``
  and then renames. HDFS ``rename`` refuses an existing destination on
  its own; local ``rename(2)`` replaces one, so on local disk the
  ``exists`` check is the guard. That leaves a window only for two
  concurrent writers on one checkpoint: Spark refuses a second active run
  of the same query id, and the runner's scratch checkpoints are fresh for
  each run.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# the directory holding this package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def driver_memory_for(meminfo: str) -> str | None:
    """Driver heap from ``/proc/meminfo`` text: a quarter of ``MemTotal``,
    at least 1 GiB and at most 16 GiB. In local mode the Python workers, the
    JVM's off-heap memory and the page cache share the rest. None (Spark's
    default) when ``MemTotal`` is missing."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            mib = int(line.split()[1]) // 1024 // 4
            return f"{max(1024, min(16 * 1024, mib))}m"
    return None


def _machine_driver_memory() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory_for(f.read())
    except OSError:
        return None


def get_spark(
    app_name: str = "kafka_connect_minio_pipeline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage busy
        # without tiny-task overhead. On a cluster this would be
        # 2-3x total cores; AQE coalesces the excess either way.
        shuffle_partitions = cores
    if driver_memory is None:
        driver_memory = _machine_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the driver-generated events table stores TIMESTAMP(NANOS); Spark
        # reads it as long nanos which tables.load() converts explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark merges this with its own pyspark/py4j path and the
        # environment's PYTHONPATH when it starts the workers
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass",
                CHECKPOINT_FILE_MANAGER)
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def conf_is_set(spark: SparkSession, key: str) -> bool:
    """Whether the session holds ``key`` itself (from the builder or a
    runtime set) rather than reading Spark's default for it."""
    return spark._jsparkSession.sessionState().conf().contains(key)


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set session confs for the duration of a block, then put the session
    back as it was: a key it held gets its old value again, a key it did
    not hold is unset (so it reads Spark's default, not a pinned copy)."""
    before = {
        key: spark.conf.get(key) if conf_is_set(spark, key) else None
        for key in confs
    }
    for key, val in confs.items():
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, old in before.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
