"""Synthesize an sf1-scale measurement dataset (VERDICT r14 item 7) by
replicating sf0.1 10x with replica-disjoint keys/content, so the heavy
queries see 10x the rows WITHOUT cross-replica near-dup blowup:

- documents: tokens suffixed "_<k>" per replica -> replica shingle
  vocabularies are disjoint, so pair counts scale ~linearly (a true
  larger crawl, not 10 exact copies of one).
- lineitem: orderkey/partkey/suppkey offset per replica -> 10 disjoint
  co-occurrence graphs (nodes/edges scale linearly).
- embeddings: vec_id offset, components shifted +k*1e-3 (stays inside
  the contract's |x| < 1e9).
- events: event_id/user_id offsets, ts shifted +k days.
- other tables copied verbatim (dimension lookups only).

Output: /tmp/sfbig/ (measurement artifact only — NOT registered test
data; nothing in the engine reads it outside plans/r15/bench_sf1.py)."""

import os
import shutil
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig"
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 10

spark = get_spark(app_name="make_sf1")
os.makedirs(OUT, exist_ok=True)

for small in ("region", "nation", "customer", "supplier", "part", "orders"):
    shutil.copy(f"{SRC}/{small}.parquet", f"{OUT}/{small}.parquet")

docs = spark.read.parquet(f"{SRC}/documents.parquet")
n_docs = docs.count()
reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("k"))
(
    docs.crossJoin(reps)
    .select(
        (F.col("doc_id") + F.col("k").cast("long") * n_docs).alias("doc_id"),
        F.when(
            F.col("k") == 0, F.col("text")
        ).otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("k").cast("string")),
                ),
            )
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    .repartition(8)
    .write.mode("overwrite")
    .parquet(f"{OUT}/documents.parquet")
)

li = spark.read.parquet(f"{SRC}/lineitem.parquet")
key_cols = {"l_orderkey": 10_000_000, "l_partkey": 1_000_000, "l_suppkey": 100_000}
(
    li.crossJoin(reps)
    .select(
        *[
            (F.col(c) + F.col("k").cast("long") * off).alias(c)
            if c in key_cols
            else F.col(c)
            for c, off in [(f.name, key_cols.get(f.name, 0)) for f in li.schema.fields]
        ],
    )
    .drop("k")
    .repartition(16)
    .write.mode("overwrite")
    .parquet(f"{OUT}/lineitem.parquet")
)

emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
n_vec = emb.count()
(
    emb.crossJoin(reps)
    .select(
        (F.col("vec_id") + F.col("k").cast("long") * n_vec).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.col("k").cast("float") * F.lit(0.001)
        ).alias("embedding"),
        *[f.name for f in emb.schema.fields if f.name not in ("vec_id", "embedding")],
    )
    .repartition(8)
    .write.mode("overwrite")
    .parquet(f"{OUT}/embeddings.parquet")
)

ev = spark.read.parquet(f"{SRC}/events.parquet")
n_ev = ev.count()
ts_type = dict((f.name, f.dataType.simpleString()) for f in ev.schema.fields)["ts"]
shift = (
    (F.col("k").cast("long") * F.lit(86_400_000_000_000))  # +k days in nanos
    if ts_type == "bigint"
    else F.make_dt_interval(F.col("k").cast("int"))
)
(
    ev.crossJoin(reps)
    .select(
        (F.col("event_id") + F.col("k").cast("long") * n_ev).alias("event_id"),
        (F.col("ts") + shift).alias("ts"),
        (F.col("user_id") + F.col("k").cast("long") * 1_000_000).alias("user_id"),
        "event_type",
        "value",
        *[
            f.name
            for f in ev.schema.fields
            if f.name not in ("event_id", "ts", "user_id", "event_type", "value")
        ],
    )
    .repartition(8)
    .write.mode("overwrite")
    .parquet(f"{OUT}/events.parquet")
)

for t in ("documents", "lineitem", "embeddings", "events"):
    print(t, spark.read.parquet(f"{OUT}/{t}.parquet").count())
spark.stop()
print("OK ->", OUT)
