"""Seeded input generators.

Two kinds of input:

- ``users`` frames for the ingest workload: registry-framed Avro records
  (magic byte, 4-byte schema id, Avro body) laid out in the Kafka source's
  relation shape, with the FIXTURES.md golden rows and edge cases mixed in
  and a share of wrong-magic frames that the frame split must drop.
- The TPC-H-like tables plus ``events``, ``documents`` and ``embeddings``
  that the query registry reads, with the schemas of FIXTURES.md §3.

Everything is a pure function of the seed and the sizes, so two runs with
the same arguments write byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kafka_connect_minio_pipeline_spark.sources.registry_avro import encode_user

# FIXTURES.md §1 golden rows: (user_id, first_name, last_name, age)
GOLDEN = [
    ("id_0", "User0", "Doe0", 20),
    ("id_1", "User1", "Doe1", 21),
    ("id_2", "", "Doe2", 22),
    ("id_3", "User3", "Doe3", 23),
    ("id_4", None, "Doe4", 30),
    ("id_5", "User5", "   ", 17),
    ("id_6", "User6", "Doe6", 17),
    ("id_7", "User7", "Doe7", 18),
    ("id_8", "User8", "Doe8", None),
]

SCHEMA_ID = 2_200_000_007  # above 2^31: the unsigned id read must not wrap
WRONG_MAGIC_SHARE = 0.02

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
    ]
)


def user_record(uid: str, first, last, age) -> dict:
    return {
        "user_id": uid,
        "first_name": first,
        "last_name": last,
        "email": f"{uid}@real.com",
        "age": age,
        "raw_password_hash": "secret123",
        "internal_tracking_code": "TRACK_XYZ",
        "address": {"street": "1 Main St", "city": "Springfield", "zip_code": "99999"},
    }


def _random_user(rng: random.Random, i: int) -> tuple:
    uid = f"u{i:07d}"
    r = rng.random()
    if r < 0.04:
        first = ""
    elif r < 0.06:
        first = None
    elif r < 0.07:
        first = "\t"
    else:
        first = f"First{rng.randrange(100000)}"
    r = rng.random()
    if r < 0.03:
        last = "   "
    elif r < 0.05:
        last = None
    else:
        last = f"Last{rng.randrange(100000)}"
    r = rng.random()
    if r < 0.03:
        age = None
    elif r < 0.13:
        age = rng.choice((17, 18))
    else:
        age = rng.randrange(5, 90)
    return uid, first, last, age


def users(seed: int, n: int) -> list[tuple]:
    """``n`` users as (user_id, first_name, last_name, age): the nine golden
    rows first, then seeded random rows with the same edge cases."""
    rng = random.Random(seed)
    rows = list(GOLDEN[:n])
    rows += [_random_user(rng, i) for i in range(len(rows), n)]
    return rows


# the blank names _random_user and GOLDEN draw from
_BLANK_NAMES = ("", None, "\t", "   ")


def filtered_by_construction(rows: list[tuple], valid: list[bool]) -> int:
    """How many well-framed rows were generated with a blank or null name,
    i.e. how many the transform must drop."""
    return sum(1 for (_, first, last, _), ok in zip(rows, valid)
               if ok and (first in _BLANK_NAMES or last in _BLANK_NAMES))


def frames(seed: int, rows: list[tuple]) -> tuple[list[dict], list[bool]]:
    """Kafka-relation rows for ``rows``; a seeded share carries a wrong
    magic byte. Returns (frames, per-row flag: magic byte is right)."""
    rng = random.Random(seed ^ 0x5EED)
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    out, valid = [], []
    for i, (uid, first, last, age) in enumerate(rows):
        value = encode_user(user_record(uid, first, last, age), SCHEMA_ID)
        ok = i < len(GOLDEN) or rng.random() >= WRONG_MAGIC_SHARE
        if not ok:
            value = b"\x01" + value[1:]
        valid.append(ok)
        out.append(
            {
                "key": uid.encode(),
                "value": value,
                "partition": i % 3,
                "offset": i,
                "timestamp": t0 + dt.timedelta(milliseconds=i),
            }
        )
    return out, valid


def write_frames(path: str, frame_rows: list[dict], per_file: int) -> int:
    """Write the backlog as ``per_file``-record parquet files, the way a
    topic's segments would be replayed. Returns the file count."""
    os.makedirs(path, exist_ok=True)
    n = 0
    for start in range(0, len(frame_rows), per_file):
        chunk = frame_rows[start : start + per_file]
        table = pa.Table.from_pylist(chunk, schema=KAFKA_SCHEMA)
        pq.write_table(table, f"{path}/part-{n:05d}.parquet")
        n += 1
    return n


# --- analytical tables -------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "big")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 is TPC-H sf1)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(50, int(200_000 * scale)),
        "orders": max(100, int(1_500_000 * scale)),
        "lineitem": max(400, int(6_000_000 * scale)),
        "events": max(200, int(1_000_000 * scale)),
        "documents": max(100, int(50_000 * scale)),
        "embeddings": max(100, int(20_000 * scale)),
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a small vocabulary, with a share of exact
    and near ("… dup") copies so the dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.045:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            words = rng.choice(len(_WORDS), k)
            texts.append(" ".join(_WORDS[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "fr", "de"], n),
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], c
            ),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": rng.choice(
                ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], p
            ),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["P", "O", "F"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, e // 66), e),
            "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = pa.table(_documents(rng, n["documents"]))
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def write_tables(path: str, tabs: dict[str, pa.Table]) -> None:
    os.makedirs(path, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, f"{path}/{name}.parquet")
