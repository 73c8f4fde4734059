"""Measure the graph_jaccard scale blowup: |E|, chosen mode, and wedge
row counts under id-orientation vs degree-orientation, at sf0.1 and the
synthesized sf1 (plans/r15/make_sf1.py)."""
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators.graph import (
    part_cooccurrence_edges,
    sym_degrees,
    _adjacency_fits_broadcast,
)

spark = get_spark(app_name="analyze_wedges")

for sf_dir in ("/root/testdata/sf0.1", "/tmp/sfbig"):
    e = part_cooccurrence_edges(spark, sf_dir)
    n_e = e.count()
    fits = _adjacency_fits_broadcast(e)
    deg = sym_degrees(e)
    stats = deg.agg(
        F.max("d").alias("dmax"),
        F.avg("d").alias("davg"),
        F.count("*").alias("n_nodes"),
    ).collect()[0]
    # id-orientation wedge count: wedges at middle node y = deg_lo(y)*deg_hi(y)
    lo = e.groupBy(F.col("b").alias("y")).agg(F.count("*").alias("dlo"))
    hi = e.groupBy(F.col("a").alias("y")).agg(F.count("*").alias("dhi"))
    id_wedges = (
        lo.join(hi, "y")
        .agg(F.sum(F.col("dlo") * F.col("dhi")))
        .collect()[0][0]
    )
    # degree-orientation wedge count: sum C(outdeg, 2) with edges oriented
    # low-degree -> high-degree (tie: lower id first)
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("s")
        )
    )
    outdeg = oriented.groupBy("s").agg(F.count("*").alias("od"))
    deg_wedges = (
        outdeg.agg(F.sum(F.col("od") * (F.col("od") - 1) / 2)).collect()[0][0]
    )
    print(
        f"RESULT {sf_dir}: |E|={n_e} fits_broadcast={fits} "
        f"nodes={stats.n_nodes} dmax={stats.dmax} davg={stats.davg:.1f} "
        f"id_wedges={id_wedges} deg_wedges={int(deg_wedges)}",
        flush=True,
    )
spark.stop()

# Measured output (this checkout, 2026-08-18):
# RESULT /root/testdata/sf0.1: |E|=1196000 fits_broadcast=True nodes=20000
#   dmax=222 davg=119.6 id_wedges=49281209 deg_wedges=41087491
# RESULT /tmp/sfbig: |E|=11960000 fits_broadcast=False nodes=200000
#   dmax=222 davg=119.6 id_wedges=492812090 deg_wedges=410874910
