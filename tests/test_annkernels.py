"""Differential contract for the r15 Arrow IVF-PQ index kernel
(guide §4.2).

ivfpq_index / ivfpq_residual_index moved from relational dataflow
(crossJoin-broadcast → min-struct groupBy) to a numpy mapInArrow kernel
that must reproduce the JVM float algebra BIT-FOR-BIT (the oracle
hashes every consumer). These tests keep the r7-r14 relational spelling
alive as the reference and assert exact row-set equality — any
float-order or tie-break drift in the kernel fails here before it can
reach an oracle grade. (Single-pass kernel twins for ivf_assign /
pq_encode were measured and REJECTED — see annkernels.py docstring —
so only the composed index is kernel-backed.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.operators import similarity, similarity_pq
from kafka_connect_minio_pipeline_spark.operators.similarity import (
    _ivf_relation,
    ivf_centroids,
    nearest,
)
from kafka_connect_minio_pipeline_spark.operators.similarity_pq import (
    _keyed,
    _sub_slices,
    pq_books,
    pq_residual_books,
    residuals,
)
from kafka_connect_minio_pipeline_spark.tables import load


def _plain(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double(F.col("embedding")).alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _encode(subs, books):
    """Relational PQ encode of (vec_id, cell, sub, v) sub-vectors."""
    return nearest(subs, _keyed(books), group=("sub",), carry=("cell",)).select(
        "vec_id", "cell", "sub", F.col("k").cast("int").alias("code")
    )


def test_ivfpq_index_kernel_matches_relational(spark, sf_dir):
    e = _ivf_relation(spark, sf_dir)
    plain = _plain(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir, plain)
    books = pq_books(spark, sf_dir, plain)
    assigned = nearest(e, cents, carry=("v",)).select(
        "vec_id", F.col("k").cast("int").alias("cell"), "v"
    )
    subs = assigned.select(
        "vec_id", "cell", F.posexplode(_sub_slices("v")).alias("sub", "v")
    )
    reference = _encode(subs, books)
    assert _rows(similarity_pq.ivfpq_index(e, cents, books)) == _rows(reference)


def test_ivfpq_residual_index_kernel_matches_relational(spark, sf_dir):
    e = _ivf_relation(spark, sf_dir)
    plain = _plain(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir, plain)
    books = pq_residual_books(spark, sf_dir, plain, cents)
    res = residuals(e, cents)
    subs = res.select(
        "vec_id", "cell", F.posexplode(_sub_slices("v")).alias("sub", "v")
    )
    reference = _encode(subs, books)
    assert _rows(similarity_pq.ivfpq_residual_index(e, cents, books)) == _rows(
        reference
    )


def test_state_partition_rule():
    """Data-volume-derived streaming state partitioning (r15 item 6):
    the count follows input bytes, never the machine's core count."""
    from kafka_connect_minio_pipeline_spark.streaming.runner import (
        STATE_PARTITION_TARGET_BYTES,
        STATE_PARTITIONS_MIN,
        state_partitions,
    )

    assert state_partitions(0) == STATE_PARTITIONS_MIN
    assert state_partitions(2 * 1024 * 1024) == STATE_PARTITIONS_MIN
    assert (
        state_partitions(10 * STATE_PARTITION_TARGET_BYTES) == 10
    )
    assert (
        state_partitions(10 * STATE_PARTITION_TARGET_BYTES + 1) == 11
    )
