"""Test-side replica of the driver's DuckDB differential oracle.

The driver compares (row count, sorted column names, order-insensitive
value hash) between the Spark query and the DuckDB oracle at sf0.01. This
harness applies the same comparison *exactly* (cell-level, no tolerance):
if a float diverges in the last bit here, it would break the driver's hash,
so tests must fail loudly too.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

from kafka_connect_minio_pipeline_spark.tables import TABLE_NAMES


def run_duckdb(sql: str, sf_dir: str) -> pd.DataFrame:
    import os

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            pth = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(pth):  # Spark-written fixture tables
                pth += "/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pth}'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, (np.bool_,)):
        v = bool(v)
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, (pd.Timestamp, datetime)):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def _canon(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for _, row in pdf.iterrows()
    ]
    return sorted(rows)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    got = spark_df.toPandas()
    want = run_duckdb(sql, sf_dir)
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} duckdb={len(want)}"
    g, w = _canon(got), _canon(want)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b
    ]
    assert not mismatches, (
        f"{len(mismatches)}/{len(g)} rows differ; first 3: {mismatches[:3]}"
    )


def run_duckdb_contract(sql: str, sf_dir: str) -> pd.DataFrame:
    """Like :func:`run_duckdb`, but views apply the engine's ingestion
    contract (tables.REQUIRED_FIELDS NOT NULL filters) — the comparison
    basis for fixtures that contain contract-violating rows. The
    pre-contract audit query (pipeline_dq_checks) must be compared via
    run_duckdb instead."""
    from kafka_connect_minio_pipeline_spark.tables import CONTRACT_SQL_WHERE

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            where = CONTRACT_SQL_WHERE.get(t, "")
            w = f" WHERE {where}" if where else ""
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'{w}"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def assert_matches_contract_oracle(spark_df, sql: str, sf_dir: str) -> None:
    got = spark_df.toPandas()
    want = run_duckdb_contract(sql, sf_dir)
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} duckdb={len(want)}"
    g, w = _canon(got), _canon(want)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b]
    assert not mismatches, (
        f"{len(mismatches)}/{len(g)} rows differ; first 3: {mismatches[:3]}"
    )


def union_find_labels(pairs) -> dict:
    """Ground truth for every connected-components test: plain Python
    union-find over an edge list, each node labeled with its component's
    minimum node. Attaching the larger root under the smaller keeps
    every root its component's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _seq_dot(a, b) -> float:
    """functions.vectors.dot: products rounded once, folded in index
    order from +0.0."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def nearest_reference(points: dict, cents: dict) -> dict:
    """{vec_id: (k, score)} with the engines' two-term score
    ``dcc - 2·v·c``; ties go to the smallest k."""
    dcc = {k: _seq_dot(c, c) for k, c in cents.items()}
    out = {}
    for vid, v in points.items():
        best = None
        for k in sorted(cents):
            score = dcc[k] - 2 * _seq_dot(v, cents[k])
            if best is None or score < best[1]:
                best = (k, score)
        out[vid] = best
    return out


def lloyd_reference(points: dict, seeds: dict, rounds: int) -> dict:
    """Ground truth for every Lloyd trainer (IVF quantizer, PQ codebooks,
    k-means): plain Python over {vec_id: [float]} points and {k: [float]}
    seeds, returning {k: [float]} after ``rounds`` update rounds. The
    update is the decimal(16,6) mean — each coordinate rounded half-up to
    6 places from its shortest decimal repr (Spark's double→decimal
    cast), summed exactly, then one double division by the count. A
    centroid that wins no point drops out."""
    q = Decimal("1e-6")
    cents = dict(seeds)
    for _ in range(rounds):
        members: dict = {}
        for vid, (k, _score) in nearest_reference(points, cents).items():
            members.setdefault(k, []).append(points[vid])
        cents = {
            k: [
                float(
                    sum(Decimal(repr(x)).quantize(q, ROUND_HALF_UP) for x in col)
                )
                / len(vs)
                for col in zip(*vs)
            ]
            for k, vs in members.items()
        }
    return cents
