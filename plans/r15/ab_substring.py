"""A/B for VERDICT r14 item 4: llm_substring_clean tail-stage restructure.

Current: islands -> lead/lag/count/sum window pass -> explode segments ->
join docs(text) -> stitch groupBy(collect_list) -> final join docs(text).
Variant: islands -> groupBy(doc_id) collect_list(struct(s,e)) -> ONE left
join docs(text) -> cleaned_text/n_spans/chars_removed computed per-row by
a higher-order aggregate over the sorted span array (guide §2.4: the
span algebra needs no second window pass and no second text join).

Also checks EXACT row equality between the two variants at sf0.01 and
sf0.1 before timing.
"""

import sys, time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators import llmdata
from kafka_connect_minio_pipeline_spark.operators.dedup import (
    SUBSTR_K,
    substring_gram_rows,
)
from kafka_connect_minio_pipeline_spark.tables import load, spread
from pyspark.sql import Window

SF_DIR = "/root/testdata/sf0.1"
PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 8


def clean_v2(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    k = SUBSTR_K
    grams = substring_gram_rows(docs)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup_pos = grams.join(dup_grams, "g").select("doc_id", "p")
    wp = Window.partitionBy("doc_id").orderBy("p")
    prev_e = F.max(F.col("p") + (k - 1)).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.select(
        "doc_id",
        "p",
        (F.col("p") + (k - 1)).alias("e"),
        (prev_e.isNull() | (F.col("p") > prev_e + 1)).cast("int").alias("brk"),
    )
    islands = (
        marked.withColumn("isl", F.sum("brk").over(wp))
        .groupBy("doc_id", "isl")
        .agg(F.min("p").alias("s"), F.max("e").alias("e"))
    )
    spans_doc = islands.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
    )
    merged = docs.select("doc_id", "text").join(spans_doc, "doc_id", "left")
    stitch = F.aggregate(
        F.col("spans"),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
        lambda acc, sp: F.struct(
            (sp["e"] + F.lit(1)).alias("pos"),
            F.concat(
                acc["acc"], F.col("text").substr(acc["pos"], sp["s"] - acc["pos"])
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.col("text").substr(
                acc["pos"], F.length("text") - acc["pos"] + F.lit(1)
            ),
        ),
    )
    removed = F.aggregate(
        F.col("spans"),
        F.lit(0).cast("long"),
        lambda a, sp: a + (sp["e"] - sp["s"] + F.lit(1)).cast("long"),
    )
    return merged.select(
        "doc_id",
        F.coalesce(F.size("spans").cast("long"), F.lit(0).cast("long")).alias(
            "n_spans"
        ),
        F.coalesce(removed, F.lit(0).cast("long")).alias("chars_removed"),
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(stitch)
        .alias("cleaned_text"),
    )


spark = get_spark(app_name="ab_substring")
spark.range(1).count()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


# --- exactness first, at two SFs
for sf in ("/root/testdata/sf0.01", SF_DIR):
    a = llmdata.q_llm_substring_clean(spark, sf)
    b = clean_v2(spark, sf)
    if a.schema != b.schema:
        print("SCHEMA MISMATCH", sf)
        print(a.schema)
        print(b.schema)
        sys.exit(1)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(f"exactness {sf}: symmetric diff rows = {diff}", flush=True)
    if diff:
        sys.exit(1)

ARMS = {
    "current": lambda: mat(llmdata.q_llm_substring_clean(spark, SF_DIR)),
    "v2": lambda: mat(clean_v2(spark, SF_DIR)),
}
for name, arm in ARMS.items():
    spark.sparkContext.setJobDescription(f"warm {name}")
    arm()
best, series = {}, {n: [] for n in ARMS}
for p in range(PASSES):
    for name, arm in ARMS.items():
        spark.sparkContext.setJobDescription(f"pass{p} {name}")
        t0 = time.perf_counter()
        arm()
        dt = round(time.perf_counter() - t0, 3)
        series[name].append(dt)
        best[name] = min(best.get(name, dt), dt)
print("RESULTS (min of %d):" % PASSES)
for n in ARMS:
    print(f"  {n}: min={best[n]:.3f} series={series[n]}")
spark.stop()
