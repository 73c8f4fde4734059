"""Focused re-A/B of the arms the first (stormy) session left ambiguous:
ivf/adc kernel vs relational, and the restructured sweep vs the
per-point loop."""

import sys, time

sys.path.insert(0, "/root/repo")

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators import similarity, similarity_pq
from kafka_connect_minio_pipeline_spark.operators.similarity import (
    IVF_SWEEP_PROBES,
    N_QUERIES,
    _cell_score,
    _ivf_relation,
    _with_cc,
    _with_norms,
    ivf_centroids,
    q_similarity_topk_batch,
)
from kafka_connect_minio_pipeline_spark.operators.similarity_pq import (
    _code_score,
    _pq_subs,
    _with_dcc,
)
from kafka_connect_minio_pipeline_spark.functions.vectors import (
    cosine_from_parts,
    dot,
    to_double,
)
from kafka_connect_minio_pipeline_spark.tables import load

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 10

spark = get_spark(app_name="ab_focused", cores=32, driver_memory="96g")
spark.range(1).count()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


def rel_ivf_assign(e, cents):
    best = (
        e.crossJoin(F.broadcast(_with_cc(cents)))
        .withColumn("score", _cell_score())
        .groupBy("vec_id")
        .agg(F.min(F.struct("score", "k")).alias("b"))
    )
    return best.select("vec_id", F.col("b.k").cast("int").alias("cell"))


def rel_pq_encode(e, books):
    best = (
        _pq_subs(e)
        .join(F.broadcast(_with_dcc(books)), "sub")
        .withColumn("score", _code_score())
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct("score", "code")).alias("b"))
    )
    return best.select("vec_id", "sub", F.col("b.code").cast("int").alias("code"))


KERNEL_ASSIGN = similarity.ivf_assign
KERNEL_ENCODE = similarity_pq.pq_encode


def run_ivf(kernel: bool):
    similarity.ivf_assign = KERNEL_ASSIGN if kernel else rel_ivf_assign
    try:
        mat(similarity.q_similarity_ann_ivf(spark, SF_DIR))
    finally:
        similarity.ivf_assign = KERNEL_ASSIGN


def run_adc(kernel: bool):
    similarity_pq.pq_encode = KERNEL_ENCODE if kernel else rel_pq_encode
    try:
        mat(similarity_pq.q_similarity_ann_adc(spark, SF_DIR))
    finally:
        similarity_pq.pq_encode = KERNEL_ENCODE


def old_sweep(spark, sf_dir):
    """Pre-r15 sweep: per-point assignment + rerank + truth probes."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, plain)
    truth = q_similarity_topk_batch(spark, sf_dir).select("query_id", "vec_id")
    truth_n = truth.agg(F.count("*").alias("n_truth"))
    qd = (
        plain.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(_with_cc(cents)))
        .withColumn("score", _cell_score())
    )
    wq = Window.partitionBy("vec_id").orderBy("score", "k")
    probes_all = (
        qd.withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= max(IVF_SWEEP_PROBES))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("k").cast("int").alias("cell"),
            "probe_rank",
        )
    )
    em = _with_norms(load(spark, sf_dir, "embeddings"))
    qn = em.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
    )
    cos = cosine_from_parts(
        dot(to_double(F.col("embedding")), to_double(F.col("q_emb"))),
        F.col("norm_sq"),
        F.col("q_norm"),
    )
    rows = None
    for p in IVF_SWEEP_PROBES:
        assigned = rel_ivf_assign(_ivf_relation(spark, sf_dir), cents)
        cand = (
            assigned.join(
                F.broadcast(probes_all.filter(F.col("probe_rank") <= p)), "cell"
            )
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
        )
        scored = (
            cand.join(em, "vec_id")
            .join(F.broadcast(qn), "query_id")
            .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        top3 = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "vec_id")
        )
        hits = truth.join(top3, ["query_id", "vec_id"], "left_semi")
        row = (
            cand.agg(F.count("*").alias("n_cand"))
            .crossJoin(hits.agg(F.count("*").alias("n_hit")))
            .select(F.lit(p).cast("int").alias("n_probe"), "n_cand", "n_hit")
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.crossJoin(F.broadcast(truth_n)).select(
        "n_probe",
        "n_truth",
        "n_hit",
        F.when(
            F.col("n_truth") > 0, F.round(F.col("n_hit") / F.col("n_truth"), 6)
        ).alias("recall"),
        F.round(F.col("n_cand") / F.lit(N_QUERIES), 6).alias("avg_candidates"),
    )


# exactness: new sweep == old sweep at the bench SF
a = sorted(
    tuple(r) for r in similarity.q_similarity_ivf_probe_sweep(spark, SF_DIR).collect()
)
b = sorted(tuple(r) for r in old_sweep(spark, SF_DIR).collect())
assert a == b, f"sweep new vs old rows differ: {a} vs {b}"
print(f"# exactness sweep: {len(a)} rows identical", flush=True)

ARMS = {
    "ivf_kernel": lambda: run_ivf(True),
    "ivf_rel": lambda: run_ivf(False),
    "adc_kernel": lambda: run_adc(True),
    "adc_rel": lambda: run_adc(False),
    "sweep_new": lambda: mat(similarity.q_similarity_ivf_probe_sweep(spark, SF_DIR)),
    "sweep_old": lambda: mat(old_sweep(spark, SF_DIR)),
}

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
