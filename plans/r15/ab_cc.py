"""Interleaved A/B over connected_components_ls variants, measured in
situ through graph_wcc and multimodal_phash_clusters:
  - per-round checkpoint eager vs lazy (kcore's A/B said eager; same
    question here — VERDICT r14 item 2 follow-through)
  - convergence probe: r15 two-leg union (semi-join + groupBy, ~3
    exchanges) vs single-exchange groupBy probe (union of child/parent
    keyed rows, one aggregate detecting both violations)
Exactness of the single probe is asserted against the current one on
the fixed test graphs before timing."""

import sys, time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators import dedup, graph, multimodal

SF_DIR = "/root/testdata/sf0.1"
PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 6

spark = get_spark(app_name="ab_cc")
spark.range(1).count()


def mat(df):
    df.write.mode("overwrite").format("noop").save()


def cc_variant(edges, src="d1", dst="d2", max_iter=25, canonical=False,
               eager=False, probe="union2"):
    e = edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
    if not canonical:
        e = (
            e.select(F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("lo").alias("n")).union(e.select(F.col("hi").alias("n"))).distinct()
    )
    b = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    converged = False
    prev = None
    for _ in range(max_iter + 1):
        if probe == "union2":
            star_viol = (
                b.alias("c")
                .join(b.alias("p"), F.col("c.v") == F.col("p.u"), "left_semi")
                .select(F.lit(1).alias("viol"))
            )
            multi = (
                b.groupBy("u")
                .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
                .filter(F.col("mn") != F.col("mx"))
                .select(F.lit(1).alias("viol"))
            )
            n_viol = star_viol.union(multi).limit(1).count()
        else:
            vt = dict(b.dtypes)["v"]
            keyed = b.select(F.col("u").alias("k"), "v").unionByName(
                b.select(F.col("v").alias("k"), F.lit(None).cast(vt).alias("v"))
            )
            n_viol = (
                keyed.groupBy("k")
                .agg(
                    F.count("v").alias("nc"),
                    F.min("v").alias("mn"),
                    F.max("v").alias("mx"),
                    F.max(F.col("v").isNull().cast("int")).alias("isp"),
                )
                .filter(
                    (F.col("mn") != F.col("mx"))
                    | ((F.col("isp") == 1) & (F.col("nc") > 0))
                )
                .limit(1)
                .count()
            )
        if n_viol == 0:
            converged = True
            break
        if prev is not None:
            prev.unpersist()
        prev = b
        sym = b.union(b.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_lg = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m_lg = m_lg.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            sym.join(m_lg, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        m_sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(m_sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_sm.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=eager)
        )
        b = small
    if not converged:
        raise RuntimeError("no converge")
    labels = nodes.join(b.withColumnRenamed("u", "n"), "n", "left").select(
        F.col("n").alias("doc_id"),
        F.coalesce(F.col("v"), F.col("n")).alias("cluster_id"),
    )
    b.unpersist()
    return labels


# exactness of the single-exchange probe on adversarial small graphs
for pairs in ([(1, 3), (2, 3)], [(1, 2), (2, 3), (3, 4)], [(1, 2), (1, 3), (10, 11)]):
    df = spark.createDataFrame(pairs, "d1 long, d2 long")
    want = sorted(
        map(tuple, cc_variant(df, probe="union2").collect())
    )
    got = sorted(map(tuple, cc_variant(df, probe="single").collect()))
    assert want == got, (pairs, want, got)
print("single-exchange probe exact on fixed graphs", flush=True)


def make_arm(eager, probe):
    def arm():
        def patched(edges, src="d1", dst="d2", max_iter=25, canonical=False):
            return cc_variant(edges, src, dst, max_iter, canonical,
                              eager=eager, probe=probe)

        orig = dedup.connected_components_ls
        dedup.connected_components_ls = patched
        try:
            mat(graph.q_graph_wcc(spark, SF_DIR))
            mat(multimodal.q_multimodal_phash_clusters(spark, SF_DIR))
        finally:
            dedup.connected_components_ls = orig

    return arm


ARMS = {
    "lazy_union2": make_arm(False, "union2"),   # current shipped code
    "eager_union2": make_arm(True, "union2"),
    "lazy_single": make_arm(False, "single"),
    "eager_single": make_arm(True, "single"),
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
    print(f"# pass{p} done", flush=True)
print("RESULTS wcc+phash combined (min of %d):" % PASSES)
for n in ARMS:
    print(f"  {n}: min={best[n]:.3f} series={series[n]}")
spark.stop()
