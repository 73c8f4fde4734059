"""A/B (session 2): the wedge-mode pair scorer's common-neighbor
relation. The sf1 scaling run (plans/r15/sf1_c32_a.json) showed
graph_jaccard going 3.05 s (sf0.1) -> 108.7 s (sf1 = 10x data): past the
adjacency broadcast budget (|E| = 11.96M x 40 B = 478 MB > 335 MB) the
scorer degrades to the wedge formulation, and its plan (dumped before
this A/B) contains THREE full copies of the triangle enumeration —
``_edge_common_neighbors`` unionAll's three projections of
``wedge_triangles(edges)`` and no ReusedExchange unifies them, so each
branch re-runs the (e1 JOIN e2) wedge join (493M rows at sf1) plus its
own exchange + sort of those rows into the closing edge join.

Arms (identical output rows, asserted before timing):
  A. union3   — current code (3x enumeration)
  B. explode  — ONE tri subtree, explode each triangle into its three
                (edge, witness) rows (guide §1.2: don't recompute)
  C. explode + SHUFFLE_HASH hint on the closing edge join (the SMJ
                otherwise sorts the wedge rows; the closing edge side
                is the small, hashable side)

Usage: python plans/r15/ab_wedge_common.py [sf_dir] [passes]
"""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.session import get_spark
from kafka_connect_minio_pipeline_spark.operators.graph import (
    JACCARD_TOP_K,
    part_cooccurrence_edges,
    sym_degrees,
)
from kafka_connect_minio_pipeline_spark.functions.barrier import filter_above

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig"
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 3

spark = get_spark(app_name="ab_wedge_common")
spark.range(1).count()


def tri_of(edges):
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )


def tri_of_hinted(edges):
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    e3 = edges.alias("e3").hint("shuffle_hash")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )


def common_union3(tri):
    return (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c"))
        .unionAll(
            tri.select(F.col("y").alias("a"), F.col("z").alias("b"), F.col("x").alias("c"))
        )
        .unionAll(
            tri.select(F.col("x").alias("a"), F.col("z").alias("b"), F.col("y").alias("c"))
        )
    )


def common_explode(tri):
    return tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b"), F.col("x").alias("c")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b"), F.col("y").alias("c")),
            )
        ).alias("e")
    ).select("e.a", "e.b", "e.c")


def jaccard_from_common(common, edges):
    grouped = common.groupBy("a", "b").agg(F.count("*").alias("n_common"))
    deg = sym_degrees(edges)
    scored = grouped.join(
        deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    return (
        scored.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(JACCARD_TOP_K)
    )


edges = part_cooccurrence_edges(spark, SF_DIR)
ARMS = {
    "union3": lambda: jaccard_from_common(common_union3(tri_of(edges)), edges),
    "explode": lambda: jaccard_from_common(common_explode(tri_of(edges)), edges),
    "explode_shj": lambda: jaccard_from_common(
        common_explode(tri_of_hinted(edges)), edges
    ),
}

ref = None
for name, build in ARMS.items():
    rows = [tuple(r) for r in build().collect()]
    if ref is None:
        ref = rows
        print(f"# {name}: {len(rows)} rows (reference)", flush=True)
    else:
        assert rows == ref, f"{name} output differs from union3"
        print(f"# {name}: rows identical", flush=True)


def mat(df):
    df.write.mode("overwrite").format("noop").save()


best = {}
for p in range(PASSES):
    for name, build in ARMS.items():
        spark.sparkContext.setJobDescription(f"pass{p} {name}")
        t0 = time.perf_counter()
        mat(build())
        dt = time.perf_counter() - t0
        best[name] = min(best.get(name, 9e9), dt)
        print(f"# pass{p} {name}: {dt:.2f}s", flush=True)

print("RESULT " + " ".join(f"{k}={v:.2f}" for k, v in best.items()))
spark.stop()
