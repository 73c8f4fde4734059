"""Same-session interleaved A/B for VERDICT r14 item 2 (the three
touched-path driver regressions): graph_kcore lazy-vs-eager checkpoint,
dedup_minhash_lsh and dedup_incremental with/without the pushdown
barrier. Arms are interleaved within each pass so stolen-time storms hit
all arms equally; estimator is the per-arm minimum over N passes (the
bench's own estimator). Noop sink, labeled jobs."""

import sys, time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators import dedup, graph

SF_DIR = "/root/testdata/sf0.1"
PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 8

spark = get_spark(app_name="ab_item2")
spark.range(1).count()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


def kcore_variant(eager: bool):
    """kcore with parameterized checkpoint eagerness (copy of
    graph.kcore's loop; eager arm adds an explicit materializing job per
    round like the pre-r14 code)."""
    edges = graph.part_cooccurrence_edges(spark, SF_DIR)
    k, max_rounds = graph.KCORE_K, graph.KCORE_MAX_ROUNDS
    directed = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).localCheckpoint(eager=True)
    degrees = directed.groupBy("s").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=eager
    )
    prev = degrees.count()
    for _ in range(max_rounds):
        alive = degrees.filter(F.col("deg") >= k).select(F.col("s").alias("node"))
        new_degrees = (
            directed.join(alive.withColumnRenamed("node", "s"), "s")
            .join(alive.withColumnRenamed("node", "d"), "d")
            .groupBy("s")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
        ).localCheckpoint(eager=eager)
        cur = new_degrees.count()
        degrees.unpersist()
        degrees = new_degrees
        if cur == prev:
            break
        prev = cur
    directed.unpersist()
    out = degrees.select(F.col("s").alias("node"), F.col("deg").alias("core_degree"))
    mat(out)
    degrees.unpersist()


_real_filter_above = dedup.filter_above


def plain_filter(df, cond):
    return df.filter(cond)


def run_dedup(qname, barrier: bool):
    dedup.filter_above = _real_filter_above if barrier else plain_filter
    try:
        fn = dedup.q_dedup_minhash_lsh if qname == "mh" else dedup.q_dedup_incremental
        mat(fn(spark, SF_DIR))
    finally:
        dedup.filter_above = _real_filter_above


ARMS = {
    "kcore_lazy": lambda: kcore_variant(False),
    "kcore_eager": lambda: kcore_variant(True),
    "mh_barrier": lambda: run_dedup("mh", True),
    "mh_plain": lambda: run_dedup("mh", False),
    "incr_barrier": lambda: run_dedup("incr", True),
    "incr_plain": lambda: run_dedup("incr", False),
}

# control for health labeling
from kafka_connect_minio_pipeline_spark.registry import all_queries

control_fn = all_queries()["agg_pricing_summary"].fn

# warm pass (untimed)
for name, arm in ARMS.items():
    spark.sparkContext.setJobDescription(f"warm {name}")
    arm()

best: dict[str, float] = {}
series: dict[str, list] = {n: [] for n in ARMS}
ctrl = []
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

print("RESULTS (min over %d passes):" % PASSES)
for name in ARMS:
    print(f"  {name}: min={best[name]:.3f}  series={series[name]}")
print(f"  control: min={min(ctrl):.3f}  series={ctrl}")
spark.stop()
