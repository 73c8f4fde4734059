"""Scaling datapoint (VERDICT r14 item 7): run the heaviest queries on
the synthesized sf1 dataset (plans/r15/make_sf1.py) at a given core
count. Usage: python bench_sf1.py <cores> [passes] [sf_dir]."""

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from kafka_connect_minio_pipeline_spark.registry import all_queries
from kafka_connect_minio_pipeline_spark.session import get_spark

CORES = int(sys.argv[1])
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 3
SF_DIR = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sfbig"

NAMES = (
    "graph_wcc",
    "graph_jaccard",
    "multimodal_phash_clusters",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "llm_substring_clean",
)

spark = get_spark(app_name=f"bench_sf1_c{CORES}", cores=CORES)
spark.range(1).count()
qs = all_queries()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


for n in NAMES:  # warm pass
    spark.sparkContext.setJobDescription(f"warm {n}")
    mat(qs[n].fn(spark, SF_DIR))

best = {}
for p in range(PASSES):
    for n in NAMES:
        spark.sparkContext.setJobDescription(f"pass{p} {n}")
        t0 = time.perf_counter()
        mat(qs[n].fn(spark, SF_DIR))
        dt = round(time.perf_counter() - t0, 3)
        best[n] = min(best.get(n, dt), dt)
        print(f"# pass{p} {n}: {dt:.2f}s", file=sys.stderr, flush=True)

print(json.dumps({"cores": CORES, "sf_dir": SF_DIR, "queries": best}))
spark.stop()
