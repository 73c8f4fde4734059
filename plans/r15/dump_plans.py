"""Dump .explain("formatted") for the r15-touched queries to
plans/r15/<query>_<tag>.txt (tag = before/after, argv[1])."""

import sys

sys.path.insert(0, "/root/repo")

from kafka_connect_minio_pipeline_spark.plans.explain import formatted_plan
from kafka_connect_minio_pipeline_spark.registry import all_queries
from kafka_connect_minio_pipeline_spark.session import get_spark

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
NAMES = (
    sys.argv[2].split(",")
    if len(sys.argv) > 2
    else [
        "similarity_ann_ivf",
        "similarity_ann_adc",
        "similarity_ann_ivfpq",
        "similarity_ann_ivfpq_residual",
        "embedding_pq",
        "dedup_incremental",
        "dedup_containment",
        "dedup_minhash_lsh",
    ]
)
SF_DIR = "/root/testdata/sf0.1"

spark = get_spark(app_name="dump_plans")
qs = all_queries()
for name in NAMES:
    df = qs[name].fn(spark, SF_DIR)
    with open(f"/root/repo/plans/r15/{name}_{TAG}.txt", "w") as f:
        f.write(formatted_plan(df))
    print(f"dumped {name}_{TAG}")
spark.stop()
