"""File-based sources, batch and streaming.

The streaming readers mirror the reference's source side (a Kafka topic,
SURVEY.md A1-A2) using the file-stream source: identical downstream plan,
no broker dependency — the documented CI fallback (SURVEY.md §7 step 4).
On a real deployment the same transformations attach to
``spark.readStream.format("kafka")`` (see sources/registry_avro.py).

The file source needs an explicit schema (no inference mid-stream) and a
directory ``basePath`` when pointed at a bare file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..staging import table_parts
from ..tables import TABLE_NAMES, _ensure_session_confs, _normalize_ts


def _stream_dir(sf_dir: str, name: str) -> str:
    """The file-stream source wants a directory, and its per-batch reads
    reject a bare-file basePath — so symlink every data file of the
    (read-only) table (:func:`staging.table_parts`) into a throwaway
    directory and stream that. A directory-of-parts table (any
    Spark-written table — the fuzz fixtures, and every production table)
    is linked file by file: the source does not recurse into a linked
    subdirectory, so a single directory symlink would list ZERO files
    and the stream would silently converge empty (caught by the r10
    docs-fuzz closure on stream_quality/stream_multimodal)."""
    parts = table_parts(sf_dir, name)
    if not parts:
        raise FileNotFoundError(f"no part files under {sf_dir}/{name}.parquet")
    d = scratch_dir(f"kcm_src_{name}_")
    for n, f in enumerate(parts):
        os.symlink(f, f"{d}/{name}_{n}.parquet")
    return d


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of one test table (file-stream source)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    _ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    sdf = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, name))
    if name == "events":
        # same nanos-or-micros→NTZ normalization as tables.load
        sdf = sdf.withColumn("ts", _normalize_ts(schema["ts"].dataType))
    # same NOT NULL required-field contract as tables.load — a NULL
    # event-time would otherwise corrupt watermarks/windows mid-stream
    from ..tables import _contract

    return _contract(sdf, name)
