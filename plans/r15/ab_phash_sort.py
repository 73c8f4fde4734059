"""Interleaved A/B: phash_clusters with vs without the checkpointed
global sort on the pair relation (plans/r15)."""
import sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators.multimodal import (
    binary_table, compute_phash, phash_near_dup_pairs,
)
from kafka_connect_minio_pipeline_spark.operators.dedup import connected_components_ls

SF = "/root/testdata/sf0.1"
spark = get_spark(app_name="ab_phash_sort")
spark.range(1).count()

def clusters(ordered: bool):
    pairs = phash_near_dup_pairs(
        compute_phash(binary_table(spark, SF)), ordered=ordered
    ).select("a_id", "b_id")
    return connected_components_ls(pairs, src="a_id", dst="b_id", canonical=True)

def mat(df):
    df.write.mode("overwrite").format("noop").save()

# row-set equality first (exactness gate before timing)
old = {(r.doc_id, r.cluster_id) for r in clusters(True).collect()}
new = {(r.doc_id, r.cluster_id) for r in clusters(False).collect()}
assert old == new, f"MISMATCH: {len(old)} vs {len(new)} rows"
print(f"# row sets identical: {len(old)} rows", flush=True)

best = {"sorted": 9e9, "unsorted": 9e9}
for p in range(8):
    for label, o in (("sorted", True), ("unsorted", False)):
        spark.sparkContext.setJobDescription(f"pass{p} {label}")
        t0 = time.perf_counter()
        mat(clusters(o))
        dt = time.perf_counter() - t0
        best[label] = min(best[label], dt)
        print(f"# pass{p} {label}: {dt:.3f}s", flush=True)
print(f"RESULT sorted={best['sorted']:.3f} unsorted={best['unsorted']:.3f}")
spark.stop()
