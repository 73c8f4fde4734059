"""Batch sinks with scale-aware file sizing.

The reference's object-store sink flushes every ``flush.size=3`` records
into one object (`connectors/s3-sink.json:11`) — fine for its 4-record
demo, catastrophic at scale: record-count flushing yields millions of tiny
objects (the small-files problem), which wrecks both the write path
(per-object PUT overhead) and every later scan (footer/listing overhead,
no column-chunk locality). The engine targets *bytes per file* instead.

``write_compacted`` uses AQE's rebalance: the REBALANCE hint lets the
adaptive engine split oversized and merge undersized output partitions to
the advisory size at runtime — skew-proof, no extra count() pass, and the
same mechanism works unchanged on a 1000-executor cluster. The advisory
size is specified in shuffle bytes; parquet compresses further, so the
on-disk files come out smaller by roughly the codec ratio (expose
``shuffle_to_disk_ratio`` to compensate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .session import conf_scope

MB = 1024 * 1024


def object_store_committer_confs(scheme: str = "s3a") -> dict[str, str]:
    """The session confs a real object-store deployment sets so that
    partitioned/compacted writes commit safely WITHOUT directory renames
    — the semantic gap between a filesystem and S3/MinIO (reference
    target: ``connectors/s3-sink.json:8-20`` writes to a MinIO bucket).

    Rename-based FileOutputCommitter is both slow (O(files) copies on
    S3) and unsafe (non-atomic rename → partial results visible on task
    retry); the S3A "magic" committer stages task output under a magic
    path and completes multipart uploads only at job commit —
    exactly-once object-store output, the cloud twin of the streaming
    sink's checkpoint+commit-log discipline (SURVEY A7).

    These confs are DOCUMENTATION-AS-CODE for this sandbox: the
    ``spark-hadoop-cloud`` module that provides
    ``PathOutputCommitProtocol`` is not baked into the container, so
    tests pin the recipe's content and exercise the sink through
    scheme-qualified ``file://`` URIs instead (rename commit is safe on
    a real filesystem); on a cluster with the cloud jar, passing these
    to ``SparkSession.builder.config`` and swapping the sink URI to
    ``s3a://bucket/path`` is the ENTIRE migration (see SCALING.md
    "Object-store sink").
    """
    return {
        # route Spark's commit protocol through the Hadoop PathOutputCommitter
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        # pick the magic committer for the object-store scheme
        f"spark.hadoop.fs.{scheme}.committer.name": "magic",
        f"spark.hadoop.fs.{scheme}.committer.magic.enabled": "true",
        f"spark.hadoop.mapreduce.outputcommitter.factory.scheme.{scheme}":
            "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory",
    }


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned write: directory layout ``col=value/`` so
    later scans with a predicate on ``partition_cols`` prune whole
    directories at plan time (``PartitionFilters`` in the scan node —
    asserted in tests/test_sinks_and_sql.py) instead of reading and
    filtering 100 TB.

    Without a pre-shuffle, every input task writes one file into EVERY
    partition directory it has rows for — tasks × partitions small files.
    The REBALANCE-on-keys hint routes each partition's rows together
    first (AQE splits oversized partition values, so one hot day doesn't
    become one hot task), which is the standard fix.
    """
    (
        df.hint("rebalance", *partition_cols)
        .write.mode(mode)
        .format(fmt)
        .partitionBy(*partition_cols)
        .save(path)
    )


def write_compacted(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    target_file_mb: float = 128,
    shuffle_to_disk_ratio: float = 1.0,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to ``path`` in files of roughly ``target_file_mb``.

    Restores the session's advisory partition size afterwards so the
    setting doesn't leak into unrelated queries.
    """
    spark = df.sparkSession
    # parallelismFirst makes AQE stop merging at core-count parallelism —
    # the right default for queries, wrong for compaction where the file
    # size target IS the point.
    overrides = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            int(target_file_mb * shuffle_to_disk_ratio * MB)
        ),
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    with conf_scope(spark, overrides):
        df.hint("rebalance").write.mode(mode).format(fmt).save(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on ``cluster_cols`` — range-partitioned
    across ``n_files`` files AND sorted within each file — so parquet
    row-group min/max statistics (and Delta/Iceberg file stats) become
    tight intervals on those columns and later scans skip whole files /
    row groups.

    This is the physical half of the space-filling-curve story: pass a
    Morton/Hilbert key from ``operators.layout`` as the cluster column
    and predicates on BOTH underlying dimensions prune (the
    ``layout_zorder_pruning`` eval quantifies how much; the round-trip
    test in tests/test_sinks_and_sql.py verifies REAL written files
    carry the predicted zone-map tightness). ``repartitionByRange`` +
    ``sortWithinPartitions`` is the exact recipe — a global sort would
    produce the same layout at the cost of one extra total-order
    barrier; range partitioning samples instead (one lightweight
    sample job, fine at any scale)."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )
