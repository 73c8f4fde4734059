"""Run a streaming DataFrame to completion and hand back a batch result.

``trigger(availableNow=True)`` processes everything currently in the
source then stops — the deterministic-test execution mode for Structured
Streaming. Results land in a memory sink (driver-side table); each run's
checkpoint goes to a throwaway scratch dir removed when the run ends.
Query names are uniquified so repeated runs in one session (the driver
runs every query twice for hashing) never collide.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..scratch import scoped_scratch_dir
from ..session import conf_scope
from ..staging import table_parts

_counter = itertools.count()

# --- data-volume-derived state partitioning (r15, VERDICT r14 item 6) ---
#
# Structured Streaming disables AQE for stateful plans and allocates ONE
# state-store instance per shuffle partition, with per-instance fixed
# costs every micro-batch (provider init, commit, WAL entry, task
# launch). Batch plans get their post-shuffle sizing from AQE; stateful
# streams get NOTHING unless the partition count is chosen — and the
# session default (executor thread count) is a machine property, not a
# data property: a 2 MB availableNow trigger on local[32] pays 32 state
# stores for a few thousand rows, and the same code on a 1000-core
# cluster would pay 1000. The scale-correct rule is one state partition
# per ~TARGET bytes of per-trigger source input (the same sizing logic
# AQE applies to batch exchanges, guide §2.2 "fewer, larger reduce
# partitions"), floored for minimum parallelism. Keys per partition —
# the thing state-store memory actually bounds — track input volume, so
# the rule holds from sf0.001 to a 100 TB/day topic (production numbers
# in SCALING.md §streaming).
STATE_PARTITION_TARGET_BYTES = 32 * 1024 * 1024
STATE_PARTITIONS_MIN = 4


def source_bytes(sf_dir: str, *names: str) -> int:
    """On-disk bytes of the given source tables (file or directory-of-
    parts) — the availableNow trigger's input volume."""
    return sum(
        os.path.getsize(f) for name in names for f in table_parts(sf_dir, name)
    )


def state_partitions(input_bytes: int) -> int:
    """max(MIN, ceil(input_bytes / TARGET)) — documented above."""
    return max(
        STATE_PARTITIONS_MIN,
        -(-input_bytes // STATE_PARTITION_TARGET_BYTES),
    )


def _scaled_state_partitions(spark: SparkSession, input_bytes: int | None):
    """Scope spark.sql.shuffle.partitions to the data-derived count for
    the duration of one streaming query (the conf is read at query
    START, so the scope need only cover .start()..awaitTermination).
    Restores the session value after — batch plans keep their AQE-
    coalesced sizing either way."""
    confs = {}
    if input_bytes is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions(input_bytes))
    return conf_scope(spark, confs)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state(spark: SparkSession):
    """Run streaming queries with the RocksDB state store.

    The default HDFS-backed provider keeps every state-store key in
    executor heap; at 100 TB-pipeline state sizes (billions of keys for
    stream dedup / sessionization) the standard deployment choice is
    RocksDB — state lives on local SSD with a block-cache, heap stays
    bounded. The provider class is read when a query STARTS, so this is a
    session-conf scope: queries started inside the block use RocksDB,
    previously-running queries are untouched. Results must be identical
    to the default provider (asserted in tests/test_streaming.py)."""
    return conf_scope(
        spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    )


def run_available_now(writer: DataStreamWriter, timeout_s: int) -> None:
    """Start a prepared ``writeStream`` with ``trigger(availableNow=True)``
    on a throwaway checkpoint, wait for it, and remove the checkpoint.

    The checkpoint only carries the streaming commit protocol through this
    one deterministic run and is never restarted from, so it lives in
    RAM-backed scratch (scratch.py) for the run alone: a long session does
    not pile up one checkpoint per stream call. Durable-checkpoint restart
    safety is tested separately with on-disk dirs.

    ``awaitTermination(timeout)`` returns False on timeout: a silently
    part-filled sink would be WRONG results, so the query is stopped and
    the run fails."""
    with scoped_scratch_dir("kcm_ckpt_") as ckpt:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish within {timeout_s}s"
            )


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    input_bytes: int | None = None,
) -> DataFrame:
    """``input_bytes`` (the trigger's source volume, from
    :func:`source_bytes`) opts a STATEFUL query into the data-derived
    state-partition count above; stateless streams leave it None (no
    state stores — the conf would be inert)."""
    name = f"kcm_stream_{next(_counter)}"
    spark: SparkSession = sdf.sparkSession
    with _scaled_state_partitions(spark, input_bytes):
        run_available_now(
            sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
            timeout_s,
        )
    return spark.table(name)


def run_foreach_batch(
    sdf: DataFrame,
    path: str,
    timeout_s: int = 300,
) -> None:
    """The escape-hatch sink: ``foreachBatch`` hands each micro-batch to
    arbitrary batch-writer logic (the generalization of the reference's
    S3 sink task for targets Spark has no native sink for — JDBC upserts,
    MERGE INTO, multi-table writes).

    Exactly-once contract: after a failure Structured Streaming may
    RE-DELIVER a batch with the SAME ``batch_id``, so the writer must be
    idempotent per batch_id. Here every batch overwrites its own
    ``batch_id=N`` partition directory — re-delivery rewrites identical
    data instead of appending duplicates. On a lakehouse table the same
    contract is a MERGE keyed on primary key, or a batch_id ledger.
    """

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    run_available_now(sdf.writeStream.foreachBatch(write_batch), timeout_s)


def run_to_files(
    sdf: DataFrame,
    path: str,
    fmt: str = "json",
    timeout_s: int = 300,
) -> None:
    """File sink with checkpointing — the engine's equivalent of the
    reference's S3 sink task (SURVEY.md A5-A7): at-least-once upgraded to
    exactly-once via the checkpoint + file-sink commit log."""
    run_available_now(
        sdf.writeStream.format(fmt).option("path", path).outputMode("append"),
        timeout_s,
    )
