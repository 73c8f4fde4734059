"""A/B of the shingle-set staging strategy (guide §1.1 — the r15 phase
profile showed the per-invocation staging WRITE at 1.75 s, larger than
3x the 0.45 s narrow recompute it was meant to save). Arms:

  staged   — status quo: write zstd parquet (32 files from spread), read back
  coalesce — same write coalesced to 8 files (fewer task/file overheads)
  narrow   — no staging: consumers recompute the narrow projection

applied to the four staged near-dup queries. Row equality is implied
(same relation either way — staging is exactness-neutral by
construction and the oracle nets re-check every grade)."""

import sys, time

sys.path.insert(0, "/root/repo")

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators import dedup
from kafka_connect_minio_pipeline_spark.operators.dedup import (
    _doc_shingle_sets,
)
from kafka_connect_minio_pipeline_spark.scratch import scratch_dir

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 6

spark = get_spark(app_name="ab_staging")
spark.range(1).count()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


REAL_STAGED = dedup._staged_shingle_sets


def staged_coalesced(spark, sf_dir):
    d = scratch_dir("kcm_shingle_sets_")
    _doc_shingle_sets(spark, sf_dir).coalesce(8).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(d)
    return spark.read.parquet(d)


VARIANTS = {
    "staged": REAL_STAGED,
    "coalesce": staged_coalesced,
    "narrow": _doc_shingle_sets,
}

QUERIES = {
    "jac": dedup.q_dedup_ngram_jaccard,
    "cont": dedup.q_dedup_containment,
    "mh": dedup.q_dedup_minhash_lsh,
    "incr": dedup.q_dedup_incremental,
}

ARMS = {}
for vn, vfn in VARIANTS.items():
    for qn, qfn in QUERIES.items():
        def mk(vfn=vfn, qfn=qfn):
            def run():
                dedup._staged_shingle_sets = vfn
                try:
                    mat(qfn(spark, SF_DIR))
                finally:
                    dedup._staged_shingle_sets = REAL_STAGED
            return run
        ARMS[f"{qn}_{vn}"] = mk()

from kafka_connect_minio_pipeline_spark.registry import all_queries

control_fn = all_queries()["agg_pricing_summary"].fn

for name, arm in ARMS.items():
    spark.sparkContext.setJobDescription(f"warm {name}")
    arm()

best, series, ctrl = {}, {n: [] for n in ARMS}, []
for p in range(PASSES):
    for name, arm in ARMS.items():
        spark.sparkContext.setJobDescription(f"pass{p} {name}")
        t0 = time.perf_counter()
        arm()
        dt = round(time.perf_counter() - t0, 3)
        series[name].append(dt)
        best[name] = min(best.get(name, dt), dt)
    t0 = time.perf_counter()
    mat(control_fn(spark, SF_DIR))
    ctrl.append(round(time.perf_counter() - t0, 3))
    print(f"# pass{p} done, control={ctrl[-1]:.3f}", flush=True)

print(f"RESULTS (min over {PASSES} passes):")
for name in ARMS:
    print(f"  {name}: min={best[name]:.3f}  series={series[name]}")
print(f"  control: min={min(ctrl):.3f}  series={ctrl}")
spark.stop()
