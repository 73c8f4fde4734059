"""Materializing derived relations: one session cache, one staging
write, one table walk.

Dedup, similarity, text and graph queries reuse deterministic
relations derived from the same tables (trained ANN codebooks, the
classifier weights, verified near-dup pairs, the graph edge lists).
Each is built once per session through :func:`session_cached`, which
keys the entry on the live session AND on a fingerprint of every input
table it was derived from, so a rewritten input rebuilds instead of
serving stale rows (the DuckDB oracle re-reads its files per
statement). Relations that are re-scanned many times go through
:func:`stage` — a zstd parquet write to run scratch, read back with
real file stats. :func:`table_parts` is the one place that lists a
table's data files.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Sequence
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from .scratch import scratch_dir


def table_parts(sf_dir: str, name: str) -> list[str]:
    """The sorted data files of table ``name`` under ``sf_dir``: the file
    itself for a single-file table, else the ``*.parquet`` parts of its
    directory (Spark's ``_SUCCESS`` and ``.crc`` side files skipped; an
    empty directory gives ``[]``)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        return [
            os.path.join(p, f) for f in sorted(os.listdir(p))
            if f.endswith(".parquet")
        ]
    return [p]


def stage(df: DataFrame, prefix: str) -> DataFrame:
    """Write ``df`` as zstd parquet to a fresh run-scratch directory and
    return the read-back relation. zstd measured the fastest
    write+readback and the smallest file for the staged shingle sets at
    sf0.1 (snappy 0.73 s / uncompressed 0.61 / zstd 0.52 / lz4 0.51)."""
    d = scratch_dir(prefix)
    df.write.mode("overwrite").option("compression", "zstd").parquet(d)
    return df.sparkSession.read.parquet(d)


# (applicationId, id(session), shuffle conf, sf_dir, input fingerprint)
#   + caller key -> (session strong-ref, value, files the value reads)
_CACHE: dict[tuple, tuple] = {}
_CACHE_MAX = 64  # many (session, sf, param) combos only under pytest
_LOCK = threading.RLock()  # concurrent first-callers must not double-build


def _fingerprint(sf_dir: str, inputs: Sequence[str]) -> tuple:
    """(part, size, mtime_ns) of every data file of every input table; a
    missing table fingerprints as empty and lets the load itself raise."""
    out = []
    for name in inputs:
        for f in table_parts(sf_dir, name):
            try:
                st = os.stat(f)
            except OSError:
                continue
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _shuffle_partitions_conf(spark: SparkSession) -> str:
    # no-default get: Spark 4 type-validates a provided default, so
    # conf.get(key, "") raises INVALID_CONF_VALUE in a session that
    # never set the key
    try:
        return str(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return ""


def _session_live(session: SparkSession) -> bool:
    try:
        return not session.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _files_present(files: list[str]) -> bool:
    for f in files:
        u = urlparse(f)
        if u.scheme in ("", "file") and not os.path.exists(unquote(u.path)):
            return False
    return True


def session_cached(
    spark: SparkSession,
    sf_dir: str,
    inputs: Sequence[str],
    key: tuple,
    build: Callable[[], Any],
) -> Any:
    """Build-once cache for deterministic relations derived from the
    ``inputs`` tables under ``sf_dir`` (FAISS's train-once, search-many
    separation). The relations are deterministic pure dataflow, so a
    cached one is bit-identical to a rebuild — the DuckDB oracles,
    which recompute per statement, still hash-match — and its plan is
    the same checkpoint or parquet scan a fresh build yields.

    The key scopes an entry to one live session (applicationId and
    ``id(spark)``; the strong session ref in the value pins ``id``), to
    the shuffle-partition conf (so the parallelism-invariance net
    rebuilds under each partitioning), to ``sf_dir`` and the fingerprint
    of every input table (so a rewritten file rebuilds), and to the
    caller's ``key``: the relation's name and every hyperparameter (so a
    monkeypatched PQ_K=1 study never sees K=16 codebooks). A hit whose
    staged files have vanished (RAM-backed scratch can be evicted
    mid-session) is rebuilt.

    One re-entrant lock keeps concurrent first-callers from building
    twice. Overflow evicts dead-session entries first and clears
    everything only if 64 entries belong to live sessions.
    """
    full_key = (
        spark.sparkContext.applicationId,
        id(spark),
        _shuffle_partitions_conf(spark),
        sf_dir,
        _fingerprint(sf_dir, inputs),
    ) + key
    with _LOCK:
        hit = _CACHE.get(full_key)
        if hit is None or not _files_present(hit[2]):
            if len(_CACHE) >= _CACHE_MAX:
                for k in [k for k, e in _CACHE.items() if not _session_live(e[0])]:
                    del _CACHE[k]
                if len(_CACHE) >= _CACHE_MAX:
                    _CACHE.clear()
            value = build()
            # staged relations scan files; checkpoints and model tuples none
            files = value.inputFiles() if isinstance(value, DataFrame) else []
            hit = (spark, value, files)
            _CACHE[full_key] = hit
        return hit[1]
