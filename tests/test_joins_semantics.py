"""Hand-built micro-fixtures for the r10 TPC-H analogs' defining
semantics — the arms the driver corpus exercises thinly (the sf0.001
parity corpus has NO zero-order customer, so a LeftOuter→Inner
regression in Q13 would pass the every-run net and only surface at
driver scale) or where both engines could share a spec bug (Q21's
only-late-supplier rule). Fixtures are written as parquet with the
real tables' schemas so the ingestion-contract loader path is the one
under test."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from kafka_connect_minio_pipeline_spark.operators.joins import (
    WAITING_LATE_DAYS,
    q_join_order_count_dist,
    q_join_waiting_supplier,
)

SF = "/root/testdata/sf0.001"


def _write_like(spark, real_name, rows, out_dir):
    """Write rows under the REAL table's schema (so required columns,
    nullability, and timestamp types match the loader contract)."""
    schema = spark.read.parquet(f"{SF}/{real_name}.parquet").schema
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/{real_name}.parquet")


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_order_count_dist_keeps_zero_order_customers(spark, tmp_path):
    """The Q13 crux: customers with no qualifying orders must appear in
    the c_count=0 bucket — both the urgent-only customer (filtered to
    zero) and the no-orders-at-all customer. A WHERE-placed filter or
    an accidental inner join drops them silently."""
    d = _ts("1996-01-01")
    _write_like(
        spark,
        "customer",
        [
            Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=0.0,
                c_mktsegment="BUILDING"),
            Row(c_custkey=2, c_name="b", c_nationkey=0, c_acctbal=0.0,
                c_mktsegment="BUILDING"),
            Row(c_custkey=3, c_name="c", c_nationkey=0, c_acctbal=0.0,
                c_mktsegment="BUILDING"),
        ],
        tmp_path,
    )
    _write_like(
        spark,
        "orders",
        [
            # C1: two non-urgent + one urgent → bucket 2
            Row(o_orderkey=10, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d, o_orderpriority="5-LOW"),
            Row(o_orderkey=11, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d, o_orderpriority="2-HIGH"),
            Row(o_orderkey=12, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d, o_orderpriority="1-URGENT"),
            # C2: urgent-only → filtered to the ZERO bucket
            Row(o_orderkey=13, o_custkey=2, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d, o_orderpriority="1-URGENT"),
            # C3: no orders at all → the ZERO bucket
        ],
        tmp_path,
    )
    got = {
        r["c_count"]: r["custdist"]
        for r in q_join_order_count_dist(spark, str(tmp_path)).collect()
    }
    assert got == {2: 1, 0: 2}, got


def test_waiting_supplier_only_late_rule(spark, tmp_path):
    """The Q21 crux on a four-order micro-graph: a supplier counts only
    when it is late, the order has ANOTHER supplier, and NO other
    supplier is late — and only on finalized ('F') orders.
    O1: S1 late, S2 on time        → S1 counts.
    O2: S1 late, S3 late           → nobody (another supplier also late).
    O3: S1 late, sole supplier     → nobody (no other supplier).
    O4 (status P): S2 late, S3 ok  → nobody (not finalized)."""
    d0 = _ts("1996-01-01")
    late = _ts("1996-01-01") + datetime.timedelta(days=WAITING_LATE_DAYS + 5)
    ontime = _ts("1996-01-10")

    def li(ok, sk, ship, ln=1):
        return Row(
            l_orderkey=ok, l_partkey=1, l_suppkey=sk, l_linenumber=ln,
            l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="N", l_linestatus="O", l_shipdate=ship,
        )

    _write_like(
        spark,
        "orders",
        [
            Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d0, o_orderpriority="5-LOW"),
            Row(o_orderkey=2, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d0, o_orderpriority="5-LOW"),
            Row(o_orderkey=3, o_custkey=1, o_orderstatus="F",
                o_totalprice=1.0, o_orderdate=d0, o_orderpriority="5-LOW"),
            Row(o_orderkey=4, o_custkey=1, o_orderstatus="P",
                o_totalprice=1.0, o_orderdate=d0, o_orderpriority="5-LOW"),
        ],
        tmp_path,
    )
    _write_like(
        spark,
        "lineitem",
        [
            li(1, 101, late), li(1, 102, ontime, 2),
            li(2, 101, late), li(2, 103, late, 2),
            li(3, 101, late),
            li(4, 102, late), li(4, 103, ontime, 2),
        ],
        tmp_path,
    )
    _write_like(
        spark,
        "supplier",
        [
            Row(s_suppkey=101, s_name="S101", s_nationkey=0, s_acctbal=0.0),
            Row(s_suppkey=102, s_name="S102", s_nationkey=0, s_acctbal=0.0),
            Row(s_suppkey=103, s_name="S103", s_nationkey=0, s_acctbal=0.0),
        ],
        tmp_path,
    )
    got = [
        (r["s_suppkey"], r["numwait"])
        for r in q_join_waiting_supplier(spark, str(tmp_path)).collect()
    ]
    assert got == [(101, 1)], got


def test_waiting_supplier_multi_lineitem_late_is_per_supplier(spark, tmp_path):
    """Lateness is per (order, supplier) over ALL its lineitems — one
    late lineitem makes the supplier late even if another of its
    lineitems shipped on time (MAX(l_shipdate) semantics)."""
    d0 = _ts("1996-01-01")
    late = d0 + datetime.timedelta(days=WAITING_LATE_DAYS + 1)

    def li(ok, sk, ship, ln):
        return Row(
            l_orderkey=ok, l_partkey=1, l_suppkey=sk, l_linenumber=ln,
            l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="N", l_linestatus="O", l_shipdate=ship,
        )

    _write_like(
        spark,
        "orders",
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
             o_totalprice=1.0, o_orderdate=d0, o_orderpriority="5-LOW")],
        tmp_path,
    )
    _write_like(
        spark,
        "lineitem",
        [li(1, 101, d0, 1), li(1, 101, late, 2), li(1, 102, d0, 3)],
        tmp_path,
    )
    _write_like(
        spark,
        "supplier",
        [Row(s_suppkey=101, s_name="S101", s_nationkey=0, s_acctbal=0.0),
         Row(s_suppkey=102, s_name="S102", s_nationkey=0, s_acctbal=0.0)],
        tmp_path,
    )
    got = [
        (r["s_suppkey"], r["numwait"])
        for r in q_join_waiting_supplier(spark, str(tmp_path)).collect()
    ]
    assert got == [(101, 1)], got


def test_join_bucketed_rewrites_one_location_per_session(spark):
    """Re-running the bucketed join in one session rewrites the same
    two table locations in place: same rows, same directories, and no
    part files left over from the earlier write."""
    import os
    from urllib.parse import urlparse

    from kafka_connect_minio_pipeline_spark.operators.joins import q_join_bucketed

    def run():
        rows = sorted(tuple(r) for r in q_join_bucketed(spark, SF).collect())
        files = {
            t: sorted(urlparse(f).path for f in spark.table(t).inputFiles())
            for t in ("kcm_bucketed_orders", "kcm_bucketed_lineitem")
        }
        return rows, files

    rows_a, files_a = run()
    rows_b, files_b = run()
    assert rows_a == rows_b
    for t in files_a:
        dirs = {os.path.dirname(f) for f in files_a[t] + files_b[t]}
        assert len(dirs) == 1, dirs
        on_disk = sorted(
            os.path.join(d, f) for d in dirs for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        assert on_disk == files_b[t]
