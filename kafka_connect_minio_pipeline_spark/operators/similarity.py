"""Similarity search over the embedding column (SURVEY.md §2.4 row;
BASELINE.json north star).

Three tiers:
- brute-force top-k for one query vector — the correctness spec;
- batch top-k (many queries at once) via broadcast + per-query window —
  the shape a reranker / eval harness actually runs;
- random-hyperplane LSH ANN and IVF cell-probe ANN — the 100 TB paths:
  signatures/cells bucket the corpus so each query scores only its
  bucket union, not the full corpus. Both are fully oracle-checked
  (fixed-literal planes; decimal-exact dataflow quantizer) and recall
  vs. the brute-force operator is asserted in
  tests/test_dedup_similarity.py.

All cosine math is the shared double-fold from functions/vectors.py
(bit-identical to the DuckDB oracle's list_dot_product on DOUBLE[]).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_parts, dot, to_double
from ..registry import Query
from ..staging import session_cached
from ..tables import load, spread

TOP_K = 5
N_QUERIES = 8  # batch operator: vec_id < 8 are the query set


def _with_norms(em: DataFrame) -> DataFrame:
    """(vec_id, embedding, norm_sq) with ZERO VECTORS EXCLUDED.

    Cosine is undefined on a zero vector, and under Spark's default ANSI
    mode the norm division is a runtime DIVIDE_BY_ZERO — one zero vector
    (a routine embedding-service failure artifact at corpus scale) would
    otherwise kill every similarity job. Excluding unscorable vectors is
    the only total semantics; every consumer's oracle mirrors the filter
    (norm_sq > 0 ⇔ any nonzero component, since squares are
    non-negative)."""
    d = to_double(F.col("embedding"))
    return em.select("vec_id", "embedding", dot(d, d).alias("norm_sq")).filter(
        F.col("norm_sq") > 0
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors of the vec_id=0 vector (brute force).

    The query row is a 1-row broadcast against the corpus scan — no
    shuffle of the corpus; orderBy+limit compiles to TakeOrdered.
    """
    em = _with_norms(spread(load(spark, sf_dir, "embeddings"), "vec_id"))
    q = em.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("norm_sq").alias("q_norm")
    )
    cos = cosine_from_parts(
        dot(to_double(F.col("embedding")), to_double(F.col("q_emb"))),
        F.col("norm_sq"),
        F.col("q_norm"),
    )
    return (
        em.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


SQL_SIMILARITY_TOPK = f"""
    WITH q AS (
        SELECT embedding AS q_emb,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS q_norm
        FROM embeddings
        WHERE vec_id = 0
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0)
    SELECT vec_id,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(q_emb AS DOUBLE[]))
                 / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * SQRT(q_norm)), 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
      AND list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT {TOP_K}
"""


def brute_topk_batch(em_raw: DataFrame) -> DataFrame:
    """Exact top-3 neighbors for the first N_QUERIES vectors of a
    (vec_id, embedding) relation. Queries are broadcast; ranking is a
    per-query window (row_number over cosine desc) — the scalable
    many-query formulation: corpus scanned once, 3·|Q| rows out."""
    em = _with_norms(em_raw)
    queries = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
    )
    cos = cosine_from_parts(
        dot(to_double(F.col("embedding")), to_double(F.col("q_emb"))),
        F.col("norm_sq"),
        F.col("q_norm"),
    )
    scored = (
        em.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def q_similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: exact top-3 per query over the full embeddings."""
    return brute_topk_batch(spread(load(spark, sf_dir, "embeddings"), "vec_id"))


SQL_SIMILARITY_TOPK_BATCH = f"""
    WITH base AS (
        SELECT vec_id, embedding,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS norm_sq
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               ROUND(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[]))
                     / (SQRT(c.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM base c JOIN base q
          ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)
    SELECT query_id, vec_id, cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
    WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# LSH ANN (scale path)
# ---------------------------------------------------------------------------

LSH_TABLES = 8
LSH_BITS = 6
EMB_DIM = 64


def _hyperplanes(
    seed: int = 42, tables: int = LSH_TABLES, bits: int = LSH_BITS
) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constants, broadcast
    into the plan as literals — a few KB, no shuffle)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables * bits, EMB_DIM)).tolist()


def lsh_signatures(
    em: DataFrame, planes: list[list[float]] | None = None,
    tables: int = LSH_TABLES, bits: int = LSH_BITS,
) -> DataFrame:
    """Per (vector, table): a ``bits``-bit bucket id from hyperplane signs.

    Parameterized so the near-dup pair operator (operators/dedup.py) can
    run the same signature plan under its own (wider-recall) plane family."""
    planes = _hyperplanes() if planes is None else planes
    emb = to_double(F.col("embedding"))
    table_buckets = []
    for t in range(tables):
        bucket = F.lit(0)
        for i in range(bits):
            plane = F.array(*[F.lit(v) for v in planes[t * bits + i]])
            bit = (dot(emb, plane) > 0).cast("int")
            bucket = bucket + (bit * (1 << i))
        table_buckets.append(bucket.cast("long"))
    return em.select(
        "vec_id",
        "embedding",
        F.posexplode(F.array(*table_buckets)).alias("table_id", "bucket"),
    )


def lsh_sigs_sql_cte(
    planes: list[list[float]], tables: int, bits: int
) -> str:
    """DuckDB CTE fragment ``emb AS (...), sigs AS (...)`` reproducing
    :func:`lsh_signatures` exactly (fixed-literal planes + fold-exact
    list_dot_product — see _ann_lsh_oracle_sql for why this is portable).
    Shared by the ANN oracle here and the embedding near-dup oracle in
    operators/dedup.py."""
    branches = []
    for t in range(tables):
        bit_sum = " + ".join(
            f"(CASE WHEN list_dot_product(e, CAST({planes[t * bits + i]!r}"
            f" AS DOUBLE[])) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
        branches.append(
            f"SELECT vec_id, CAST({t} AS INTEGER) AS table_id,"
            f" CAST({bit_sum} AS BIGINT) AS bucket FROM emb"
        )
    sigs = "\n        UNION ALL ".join(branches)
    return f"""emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0),
    sigs AS (
        {sigs})"""


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 for the first 8 queries via multi-table hyperplane LSH.

    Candidates = union over 8 tables of same-bucket vectors (≈ a few % of
    the corpus per query), then exact cosine rerank of candidates only.
    At 100 TB the bucket join replaces the full-corpus scan per query —
    the crossover that makes similarity search feasible at all.
    """
    em = _with_norms(spread(load(spark, sf_dir, "embeddings"), "vec_id"))
    sigs = lsh_signatures(spread(load(spark, sf_dir, "embeddings"), "vec_id"))
    q_sigs = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("table_id"),
        F.col("bucket"),
    )
    cand = (
        sigs.join(F.broadcast(q_sigs), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
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
    scored = (
        cand.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def _ann_lsh_oracle_sql() -> str:
    """DuckDB twin of the full hyperplane-LSH pipeline. Portable because
    (a) the planes are fixed literals (repr round-trips doubles exactly),
    (b) DuckDB's list_dot_product matches Spark's sequential aggregate
    fold bit-for-bit (the property every similarity oracle here relies
    on), so bucket SIGNS — and therefore the candidate set — are
    identical, and (c) the rerank is the already-portable exact cosine."""
    return f"""
    WITH {lsh_sigs_sql_cte(_hyperplanes(), LSH_TABLES, LSH_BITS)},
    qs AS (
        SELECT vec_id AS query_id, table_id, bucket FROM sigs
        WHERE vec_id < {N_QUERIES}),
    cand AS (
        SELECT DISTINCT qs.query_id, s.vec_id
        FROM sigs s JOIN qs USING (table_id, bucket)
        WHERE s.vec_id <> qs.query_id),
    norms AS (SELECT vec_id, e, list_dot_product(e, e) AS norm_sq FROM emb),
    scored AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_dot_product(v.e, q.e)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM cand c
        JOIN norms v ON c.vec_id = v.vec_id
        JOIN norms q ON c.query_id = q.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER)
            AS rank
        FROM scored)
    WHERE rank <= 3
"""


SQL_ANN_LSH = _ann_lsh_oracle_sql()


def q_similarity_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label agreement over the labeled embeddings: for each query
    vector, do its exact top-3 cosine neighbors share its label?

    The standard embedding-quality eval (probe of cluster structure):
    majority neighbor label with deterministic tie-break (higher count
    first, then smaller label), compared against the query's own label.
    Everything downstream of the (already oracle-stable) top-k is integer
    arithmetic, so the whole eval hash-matches DuckDB.
    """
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    top3 = q_similarity_topk_batch(spark, sf_dir)
    j = (
        top3.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select("vec_id", F.col("label").alias("nbr_label"))
            ),
            "vec_id",
        )
    )
    counts = j.groupBy("query_id", "q_label", "nbr_label").agg(
        F.count("*").alias("n")
    )
    wmaj = Window.partitionBy("query_id").orderBy(
        F.col("n").desc(), F.col("nbr_label")
    )
    maj = (
        counts.withColumn("rn", F.row_number().over(wmaj))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nbr_label").alias("majority_label"))
    )
    per_q = j.groupBy("query_id", "q_label").agg(
        F.sum((F.col("nbr_label") == F.col("q_label")).cast("long")).alias(
            "n_same_label"
        )
    )
    return per_q.join(maj, "query_id").select(
        "query_id",
        "q_label",
        "n_same_label",
        "majority_label",
        (F.col("majority_label") == F.col("q_label")).alias("label_match"),
    )


SQL_SIMILARITY_KNN_LABEL = f"""
    WITH base AS (
        SELECT vec_id, embedding, label,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS norm_sq
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id, c.label AS nbr_label,
               ROUND(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[]))
                     / (SQRT(c.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM base c JOIN base q
          ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
    top3 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, vec_id) AS rank FROM scored)
        WHERE rank <= 3),
    counts AS (
        SELECT query_id, q_label, nbr_label, COUNT(*) AS n
        FROM top3 GROUP BY 1, 2, 3),
    maj AS (
        SELECT query_id, nbr_label AS majority_label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY n DESC, nbr_label) AS rn FROM counts)
        WHERE rn = 1),
    per_q AS (
        SELECT query_id, q_label,
               CAST(SUM(CASE WHEN nbr_label = q_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same_label
        FROM top3 GROUP BY 1, 2)
    SELECT per_q.query_id, q_label, n_same_label, majority_label,
           majority_label = q_label AS label_match
    FROM per_q JOIN maj ON per_q.query_id = maj.query_id
"""


# ---------------------------------------------------------------------------
# IVF ANN (the other scale path: coarse quantizer + cell-probe search)
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_PROBE = 2  # cells searched per query
IVF_ITERS = 2  # Lloyd update rounds (deterministic init → deterministic
#                result; 2 rounds over a 128-points-per-cell sample is the
#                quality FAISS-style coarse quantizers train to, and each
#                round is a fixed plan-depth/scheduling cost)
IVF_TRAIN_SAMPLE = 2048  # quantizer training sample (FAISS-style)


def _ivf_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[]) — the staged relation the IVF steps read."""
    return spread(load(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )


def _with_dcc(cents: DataFrame) -> DataFrame:
    """(…, c, dcc): each centroid row with its ||c||²."""
    return cents.withColumn("dcc", dot(F.col("c"), F.col("c")))


def _score() -> F.Column:
    """argmin_c ||v-c||² == argmin_c (||c||² - 2 v·c): the per-vector
    ||v||² term is a constant shift that cancels in every comparison, so
    neither engine computes it — one fold per (vector, centroid) saved
    on the corpus-sized passes. The ORDER among centroids is
    float-formula-dependent, so every oracle uses the IDENTICAL two-term
    expression (never the three-term one); a caller that reports a true
    squared distance adds ||v||² afterwards (``dvv + score``)."""
    return F.col("dcc") - 2 * dot(F.col("v"), F.col("c"))


def nearest(
    points: DataFrame,
    cents: DataFrame,
    group: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, *group, k, score, *carry): every point's nearest centroid.

    ``points`` is (vec_id, *group, v, …) and ``cents`` is (*group, k, c);
    a point only competes for the centroids of its own group (the PQ
    subspace, ``group=("sub",)``), otherwise for all of them. The bounded
    centroid relation is broadcast — a crossJoin without groups, a
    BroadcastHashJoin on the group keys with them — and the argmin is a
    map-side-combined ``min(struct(score, k))`` per point, so ties take
    the smallest k. ``carry`` columns pass through ``first()``: exact,
    since each depends only on the (vec_id, *group) key, so no caller
    needs a join-back to recover them."""
    cc = F.broadcast(_with_dcc(cents))
    joined = points.join(cc, list(group)) if group else points.crossJoin(cc)
    best = (
        joined.withColumn("score", _score())
        .groupBy("vec_id", *group)
        .agg(
            F.min(F.struct("score", "k")).alias("b"),
            *[F.first(x).alias(x) for x in carry],
        )
    )
    return best.select("vec_id", *group, "b.k", "b.score", *carry)


def lloyd(
    train: DataFrame, seeds: DataFrame, rounds: int, group: tuple[str, ...] = ()
) -> DataFrame:
    """``rounds`` Lloyd rounds as pure dataflow; returns (*group, k, c).

    ``train`` is (vec_id, *group, v) and ``seeds`` the initial (*group,
    k, c). Each round assigns with :func:`nearest` (``v`` carried, no
    join-back), then takes the order-free decimal(16,6) mean per
    (*group, k, dim): the same quantized sums as similarity_centroids,
    cast back to double for one correctly-rounded division by the count,
    so the DuckDB oracle (:func:`lloyd_ctes`) reproduces every centroid
    bit-for-bit. An emptied centroid drops out of the next round on both
    engines. The round lineage is LINEAR, so rounds stay one lazy plan
    and callers materialize only the ends."""
    cents = seeds
    for _ in range(rounds):
        assigned = nearest(train, cents, group, carry=("v",))
        cents = (
            assigned.select(*group, "k", F.posexplode("v").alias("pos", "x"))
            .groupBy(*group, "k", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(16,6)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .groupBy(*group, "k")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: st["m"],
                ).alias("c")
            )
        )
    return cents


def lloyd_ctes(
    src: str, seeds: int, rounds: int, prefix: str, group: tuple[str, ...] = ()
) -> str:
    """DuckDB twin of :func:`lloyd`: the CTE fragment ``{p}c0, {p}a1,
    {p}u1, {p}c1, …`` ending in ``{p}c{rounds}`` of (*group, k, c).
    ``src`` names a CTE of (vec_id, *group, v); the seeds are its
    ``seeds`` smallest vec_ids per group, k = vec_id. Each round ranks
    by the same two-term score as :func:`_score` (ties → smallest k),
    carries ``v`` like the Spark side, and takes the decimal(16,6) mean.
    The prefix keeps chains apart when one oracle composes two (IVF-PQ
    trains the coarse quantizer and the PQ codebooks in one ``WITH``).
    Each round CTE is referenced exactly once (linear — the
    exponential-inlining trap does not apply)."""
    g = "".join(f"{x}, " for x in group)
    sg = "".join(f"s.{x}, " for x in group)
    part = ", ".join(["s.vec_id", *[f"s.{x}" for x in group]])
    ctes = [
        f"""
    {prefix}c0 AS (
        SELECT {g}vec_id AS k, v AS c FROM {src} WHERE vec_id < {seeds})"""
    ]
    for i in range(1, rounds + 1):
        prev = f"{prefix}c{i - 1}"
        on = f"JOIN {prev} c USING ({', '.join(group)})"
        join = on if group else f"CROSS JOIN {prev} c"
        ctes.append(f"""
    {prefix}a{i} AS (
        SELECT {g}k, v FROM (
            SELECT {sg}c.k, s.v,
                   ROW_NUMBER() OVER (PARTITION BY {part}
                       ORDER BY list_dot_product(c.c, c.c)
                                - 2 * list_dot_product(s.v, c.c),
                                c.k) AS rn
            FROM {src} s {join}) WHERE rn = 1),
    {prefix}u{i} AS (
        SELECT {g}k, i AS pos,
               CAST(SUM(CAST(v[i] AS DECIMAL(16,6))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM {prefix}a{i}, LATERAL UNNEST(generate_series(1, len(v))) t(i)
        GROUP BY {g}k, i),
    {prefix}c{i} AS (
        SELECT {g}k, LIST(m ORDER BY pos) AS c FROM {prefix}u{i} GROUP BY {g}k)""")
    return ",".join(ctes)


def ivf_quantizer(e: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer as PURE DATAFLOW: IVF_ITERS
    :func:`lloyd` rounds over the bounded training relation (vec_id <
    IVF_TRAIN_SAMPLE — the quantizer needs O(cells) representative
    points, not the corpus; FAISS trains on ~30-256 points per centroid,
    and at 100 TB the training relation is still ≤2048 rows). Returns
    (k, c double[]).

    This replaces the r2-r6 driver-side numpy Lloyd: same algorithm, but
    expressed in the decimal-exact relational algebra of :func:`lloyd`,
    so the DuckDB oracle reproduces every centroid bit-for-bit and the
    WHOLE IVF query is hash-checked instead of rows-only. Seeding: the
    IVF_CELLS smallest vec_ids, k = vec_id (the oracle CTE ``ic0``). An
    emptied cell drops out of the next round on both engines (the numpy
    version kept its stale centroid — spec simplification, identical
    both sides). Training cost is scale-invariant: the sample never
    grows, so at 100 TB it is a ~2 s constant ahead of the corpus-sized
    passes.

    Rejected alternatives (measured at sf0.1): inlining centroids as
    plan literals — the lsh_signatures fixed-planes trick — loses badly
    here whether via array_sort of (score, k) structs (27 s: falls out
    of codegen into interpreted HOF evaluation) or flat least() with
    per-round driver reshaping (6.7 s: megabyte expression trees
    recompiled and redeserialized per task per pass); the broadcast join
    keeps the fold inside codegen and the plan small. Only the ends
    materialize (training relation, final centroids)."""
    # compute-spread before the checkpoint: the filtered sample is one
    # scan partition (single parquet file locally; one row-group slice at
    # scale), and every training fold below would otherwise run on one
    # core — same rationale as tables.spread
    n = e.sparkSession.sparkContext.defaultParallelism
    s = (
        e.filter(F.col("vec_id") < IVF_TRAIN_SAMPLE)
        .repartition(n, F.col("vec_id"))
        .localCheckpoint()
    )
    seeds = s.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("k"), F.col("v").alias("c")
    )
    return lloyd(s, seeds, IVF_ITERS).localCheckpoint()  # ≤ IVF_CELLS rows


def ivf_centroids(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """The trained coarse quantizer for (session, sf) — train-once via
    :func:`staging.session_cached` (see its docstring for why reuse is
    exact)."""
    return session_cached(
        spark,
        sf_dir,
        ("embeddings",),
        ("ivf_centroids", IVF_CELLS, IVF_ITERS, IVF_TRAIN_SAMPLE),
        lambda: ivf_quantizer(e),
    )


def ivf_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """The inverted file: every vector → its nearest cell (one distributed
    pass, broadcast centroids, map-side-combined min-struct argmin — the
    corpus never shuffles wider than its pre-combined N rows). At scale
    this relation is what gets written out partitioned BY cell, so a
    probe reads only its cells' partitions instead of the corpus.

    r15 A/B (guide §4.2, VERDICT r14 item 5): a bit-exact numpy
    mapInArrow twin was measured (OPTIMIZATION_r15.md) —
    kernel 1.23-1.51 s vs relational 1.14-1.15 s min-of-8/10 for
    ann_ivf. The fixed Python-boundary roundtrip outweighs ONE pass's
    exchange savings at any per-pass volume this small, so the kernel
    was adopted only where it collapses TWO passes (ivfpq_index /
    ivfpq_residual_index, +24-28%); this single-pass assign stays
    relational."""
    return nearest(e, cents).select(
        "vec_id", F.col("k").cast("int").alias("cell")
    )


def _probe_cells(e: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Per query vector: its ``n`` nearest cells (query relation is
    N_QUERIES rows — a row_number window over C·|Q| rows is free)."""
    d = e.crossJoin(F.broadcast(_with_dcc(cents))).withColumn("score", _score())
    w = Window.partitionBy("vec_id").orderBy("score", "k")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("vec_id", "k")
    )


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 for the first 8 queries via IVF cell-probe search.

    Fetch the 16-cell coarse quantizer (:func:`ivf_centroids` — bounded
    training relation, decimal-exact dataflow Lloyd, trained ONCE per
    (session, sf) and shared with the IVF-PQ composition — the FAISS
    train/add/search separation; see :func:`staging.session_cached`),
    assign every vector to its nearest cell (the inverted file), then
    score each query only
    against its IVF_PROBE closest cells' vectors — at scale the inverted
    file is partitioned BY cell, so a probe reads only its cells'
    partitions instead of the corpus. Exact cosine rerank on the
    candidates; same output shape as the LSH variant. Since r7 the
    quantizer, probes, and rerank are all cross-engine-exact dataflow, so
    the driver hash-checks the full result (previously rows-only); recall
    vs. brute force stays asserted in tests/test_dedup_similarity.py."""
    # training/probe relations read the PLAIN load (the vec_id filter
    # prunes at the scan); only the corpus-sized assignment pass pays the
    # compute-spread repartition
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, plain)
    assigned = ivf_assign(_ivf_relation(spark, sf_dir), cents)
    probes = _probe_cells(
        plain.filter(F.col("vec_id") < N_QUERIES), cents, IVF_PROBE
    ).select(
        F.col("vec_id").alias("query_id"), F.col("k").cast("int").alias("cell")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
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
    scored = (
        cand.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def _ivf_train_ctes() -> str:
    """CTE fragment ``s, ic0, ia1, iu1, ic1, …`` ending in
    :data:`_IVF_FINAL_C` — the bounded training sample and its
    :func:`lloyd_ctes` chain. Assumes an ``e AS (vec_id, v)`` CTE is
    already defined."""
    return f"""
    s AS (SELECT vec_id, v FROM e WHERE vec_id < {IVF_TRAIN_SAMPLE}),{
        lloyd_ctes("s", IVF_CELLS, IVF_ITERS, "i")}"""


_IVF_FINAL_C = f"ic{IVF_ITERS}"


def _ann_ivf_sql() -> str:
    """DuckDB twin of the full IVF pipeline: unrolled Lloyd rounds on the
    bounded training CTE (:func:`_ivf_train_ctes`), one assignment pass,
    per-query probe ranking, exact cosine rerank. The cell score is the
    TWO-term ||c||² - 2 v·c (see _score — must match the Spark
    expression, not merely its argmin)."""
    dist = (
        "list_dot_product(c.c, c.c)"
        " - 2 * list_dot_product(e.v, c.c)"
    )
    qdist = dist.replace("e.", "q.")
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_ivf_train_ctes()},
    assigned AS (
        SELECT vec_id, k AS cell FROM (
            SELECT e.vec_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.k) AS rn
            FROM e CROSS JOIN {_IVF_FINAL_C} c) WHERE rn = 1),
    probes AS (
        SELECT query_id, k AS cell FROM (
            SELECT q.vec_id AS query_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {qdist}, c.k) AS rn
            FROM (SELECT * FROM e WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN {_IVF_FINAL_C} c) WHERE rn <= {IVF_PROBE}),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM assigned a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.query_id),
    norms AS (
        SELECT vec_id, v, list_dot_product(v, v) AS norm_sq FROM e
        WHERE list_dot_product(v, v) > 0),
    scored AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_dot_product(v.v, q.v)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM cand c
        JOIN norms v ON c.vec_id = v.vec_id
        JOIN norms q ON c.query_id = q.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER)
            AS rank
        FROM scored)
    WHERE rank <= 3
"""


SQL_ANN_IVF = _ann_ivf_sql()


# ---------------------------------------------------------------------------
# per-label centroids (the embedding-space class profile / quantizer seed)
# ---------------------------------------------------------------------------


def class_centroids(em: DataFrame) -> DataFrame:
    """Element-wise per-label mean of the embedding column, exactly.

    posexplode → groupBy(label, pos) → decimal sum is the distributed
    shape: one shuffle keyed on (label, dim-index), so a 100 TB corpus
    with L labels and D dims spreads over L×D reducers (no per-label
    hotspot, unlike collect_list-style folds), and partial aggregation
    combines map-side. Cross-engine exactness: float→DOUBLE (exact
    widening) → DECIMAL(16,6) — via double, NOT float-direct, because
    DuckDB's float→decimal cast rounds in float precision and diverges
    ~1-in-5 groups — then the order-free decimal sum is cast back to
    double for ONE correctly-rounded IEEE division by the count.
    """
    ex = em.select(
        "label", F.posexplode("embedding").alias("pos0", "e")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "e")
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.col("e").cast("double").cast("decimal(16,6)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "pos",
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("centroid"),
        )
    )


def q_similarity_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-label centroids of ``embeddings``."""
    return class_centroids(spread(load(spark, sf_dir, "embeddings"), "vec_id"))


SQL_SIMILARITY_CENTROIDS = """
    SELECT label, CAST(i AS INTEGER) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(16,6)))
                AS DOUBLE) / COUNT(*) AS centroid
    FROM embeddings, LATERAL UNNEST(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i
"""


QUANT_LEVELS = 127  # symmetric int8


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of each embedding vector with exact
    reconstruction-error reporting — the storage/bandwidth workhorse of a
    large similarity index (4x smaller vectors, SIMD-friendly int8 dot
    products at query time).

    Per vector: scale = max|v| / 127, code_i = clamp(round(v_i / scale)).
    Entirely narrow per-row array algebra (zero shuffles — fuses into the
    scan); codes are verified by an integer checksum (position-weighted
    sum, exact in both engines) and the RMS reconstruction error is a
    deterministic left fold, so the whole output is hash-comparable
    without tolerance.
    """
    # Each select() below is a PROJECTION BOUNDARY: Catalyst does not CSE
    # across higher-order-function lambdas, so referencing `scale` (itself
    # an array_max fold) inside a per-element lambda re-evaluates the whole
    # fold per element — O(d²) per row (measured 6.3s → sub-second at
    # sf0.1). Materializing each intermediate as a named column makes every
    # downstream reference a cheap attribute read — the same staging trick
    # as text_fingerprint's token-hash array.
    staged = emb.select(
        "vec_id",
        F.size(F.col("embedding")).cast("int").alias("n_dims"),
        to_double(F.col("embedding")).alias("v"),
    )
    staged = staged.select(
        "vec_id",
        "n_dims",
        "v",
        (
            F.array_max(F.transform(F.col("v"), F.abs))
            / F.lit(float(QUANT_LEVELS))
        ).alias("scale"),
    )
    staged = staged.select(
        "vec_id",
        "n_dims",
        "v",
        "scale",
        F.transform(
            F.col("v"),
            # scale = 0 ⇔ the vector is all-zero: short-circuit to code 0
            # (Spark's non-ANSI x/0 yields NULL but DuckDB yields inf/NaN,
            # so the unguarded divide would split the engines)
            lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
                F.greatest(
                    F.lit(-QUANT_LEVELS),
                    F.least(
                        F.lit(QUANT_LEVELS), F.round(x / F.col("scale")).cast("int")
                    ),
                )
            ),
        ).alias("codes"),
    )
    sse = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("codes"),
            lambda x, q: (x - q.cast("double") * F.col("scale"))
            * (x - q.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    checksum = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.col("n_dims")),
            lambda q, i: q.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return staged.select(
        "vec_id",
        "n_dims",
        "scale",
        checksum.alias("code_checksum"),
        F.sqrt(sse / F.col("n_dims")).alias("rms_error"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: int8 quantization of ``embeddings``."""
    return quantize_embeddings(spread(load(spark, sf_dir, "embeddings"), "vec_id"))


_SQL_QV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_SQL_QSCALE = f"list_max(list_transform({_SQL_QV}, x -> abs(x))) / {float(QUANT_LEVELS)}"

SQL_EMBEDDING_QUANTIZE = f"""
    WITH q AS (
        SELECT vec_id, len(embedding) AS n_dims,
               {_SQL_QV} AS v, {_SQL_QSCALE} AS scale
        FROM embeddings),
    c AS (
        SELECT vec_id, n_dims, v, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE GREATEST(-{QUANT_LEVELS},
                   LEAST({QUANT_LEVELS}, CAST(ROUND(x / scale) AS INTEGER))) END)
                   AS codes
        FROM q)
    SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims, scale,
           list_reduce(
               list_transform(list_zip(codes, range(1, n_dims + 1)),
                              p -> CAST(p[1] AS BIGINT) * p[2]),
               (acc, x) -> acc + x) AS code_checksum,
           SQRT(list_reduce(
               list_transform(list_zip(v, codes),
                              p -> (p[1] - CAST(p[2] AS DOUBLE) * scale)
                                   * (p[1] - CAST(p[2] AS DOUBLE) * scale)),
               (acc, x) -> acc + x) / n_dims) AS rms_error
    FROM c
"""


def q_similarity_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hyperplane-LSH ANN against exact brute force, per
    query — index-quality measurement as a first-class query (the report
    an ANN deployment recomputes whenever data or recall knobs change,
    not a one-off test). Both sides are the already-registered operators:
    truth = :func:`q_similarity_topk_batch` (exact, one corpus pass),
    candidate = :func:`q_similarity_ann_lsh`. The comparison itself is a
    left-semi join + two tiny aggregations over k·|Q| rows — free next
    to either input, at any corpus size.
    """
    truth = q_similarity_topk_batch(spark, sf_dir).select("query_id", "vec_id")
    ann = q_similarity_ann_lsh(spark, sf_dir).select("query_id", "vec_id")
    hits = truth.join(ann, ["query_id", "vec_id"], "left_semi")
    n_truth = truth.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    return (
        n_truth.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


SQL_SIMILARITY_ANN_EVAL = f"""
    WITH truth AS (
        SELECT query_id, vec_id FROM ({SQL_SIMILARITY_TOPK_BATCH})),
    ann AS (
        SELECT query_id, vec_id FROM ({SQL_ANN_LSH})),
    hits AS (
        SELECT t.query_id, t.vec_id FROM truth t
        WHERE EXISTS (SELECT 1 FROM ann a
                      WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)),
    nt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY query_id),
    nh AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
           FROM hits GROUP BY query_id)
    SELECT nt.query_id, n_truth,
           COALESCE(n_hit, 0) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_truth, 6) AS recall
    FROM nt LEFT JOIN nh USING (query_id)
"""


MRL_DIMS = 8  # truncated prefix dimensionality under evaluation


def q_similarity_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-dimension study (the Matryoshka question): if the index
    stored only the first 8 of 16 dimensions — half the footprint, twice
    the scan rate — what fraction of each query's exact top-3 survives?
    Per-query recall of truncated-vector brute force against full-vector
    brute force; the measurement that decides a storage/recall knob
    BEFORE re-embedding a 100 TB corpus.

    Both sides are one corpus pass each (broadcast queries, per-query
    window); the truncation is a narrow ``slice`` projection. The
    comparison is k·|Q| rows — free.
    """
    em = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    full = brute_topk_batch(em).select("query_id", "vec_id")
    trunc = brute_topk_batch(
        em.select("vec_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding"))
    ).select("query_id", "vec_id")
    hits = full.join(trunc, ["query_id", "vec_id"], "left_semi")
    n_truth = full.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    return n_truth.join(n_hit, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), 6
        ).alias("recall"),
    )


def _topk3_sql(base_cte: str) -> str:
    """DuckDB brute-force top-3 over a (vec_id, embedding) CTE."""
    return f"""
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   ROUND(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[]))
                         / (SQRT(c.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
            FROM (SELECT vec_id, embedding,
                         list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) AS norm_sq
                  FROM {base_cte}
                  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0) c
            JOIN (SELECT vec_id, embedding,
                         list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) AS norm_sq
                  FROM {base_cte}
                  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0) q
              ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id))
    WHERE rank <= 3"""


SQL_SIMILARITY_MATRYOSHKA_EVAL = f"""
    WITH tr_base AS (
        SELECT vec_id, embedding[1:{MRL_DIMS}] AS embedding FROM embeddings),
    truth AS ({_topk3_sql("embeddings")}),
    tr AS ({_topk3_sql("tr_base")}),
    hits AS (
        SELECT t.query_id, t.vec_id FROM truth t
        WHERE EXISTS (SELECT 1 FROM tr
                      WHERE tr.query_id = t.query_id AND tr.vec_id = t.vec_id)),
    nt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY query_id),
    nh AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
           FROM hits GROUP BY query_id)
    SELECT nt.query_id, n_truth,
           COALESCE(n_hit, 0) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / n_truth, 6) AS recall
    FROM nt LEFT JOIN nh USING (query_id)
"""


MMR_LAMBDA = 0.7
MMR_POOL = 20
MMR_K = 5


def q_similarity_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the top-20 cosine
    candidates of the query vector, greedily pick 5 that balance
    relevance against redundancy (score = λ·rel − (1−λ)·max-sim-to-
    already-picked) — the diversity pass every retrieval/RAG stack runs
    after ANN.

    MMR is inherently sequential-greedy; here the greedy loop is
    UNROLLED INTO THE DATAFLOW — each step is an anti-join (drop picked),
    a join against the picked set for the max-similarity penalty, and a
    TakeOrdered argmax — so no candidate data ever drives a Python
    decision. The candidate pool and its pairwise-similarity relation
    are localCheckpoint-ed (bounded: pool and pool² rows) so the five
    step subtrees reuse one materialization instead of re-ranking the
    corpus per step; the per-step picked set (≤ 5 rows) is checkpointed
    to keep the unrolled plan linear. Everything upstream (the pool
    top-k) is the distributed brute-force ranking; relevance and
    pairwise sims are pre-rounded so every greedy comparison runs on
    cross-engine-identical quantized doubles, ties on vec_id. The
    DuckDB oracle unrolls the identical five steps.
    """
    em = _with_norms(spread(load(spark, sf_dir, "embeddings"), "vec_id"))
    qv = em.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("norm_sq").alias("q_norm")
    )
    rel = cosine_from_parts(
        dot(to_double(F.col("embedding")), to_double(F.col("q_emb"))),
        F.col("norm_sq"),
        F.col("q_norm"),
    )
    pool = (
        em.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "embedding", "norm_sq", F.round(rel, 6).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint()  # bounded: MMR_POOL rows
    )
    a = pool.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("norm_sq").alias("a_norm"),
    )
    b = pool.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("norm_sq").alias("b_norm"),
    )
    sim = cosine_from_parts(
        dot(to_double(F.col("a_emb")), to_double(F.col("b_emb"))),
        F.col("a_norm"),
        F.col("b_norm"),
    )
    sims = (
        a.crossJoin(b)
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", F.round(sim, 6).alias("sim"))
        .localCheckpoint()  # bounded: MMR_POOL² rows
    )
    lam, one_m = F.lit(MMR_LAMBDA), F.lit(1.0 - MMR_LAMBDA)
    selected = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "vec_id",
            F.col("rel").alias("mmr_score"),
            "rel",
        )
        .localCheckpoint()
    )
    for k in range(2, MMR_K + 1):
        picked = selected.select(F.col("vec_id").alias("b_id"))
        cand = (
            pool.join(selected.select("vec_id"), "vec_id", "left_anti")
            .join(sims, F.col("vec_id") == F.col("a_id"))
            .join(picked, "b_id")
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        nxt = (
            cand.select(
                F.lit(k).alias("rank"),
                "vec_id",
                (lam * F.col("rel") - one_m * F.col("maxsim")).alias("mmr_score"),
                "rel",
            )
            .orderBy(F.col("mmr_score").desc(), "vec_id")
            .limit(1)
        )
        selected = selected.unionByName(nxt).localCheckpoint()  # ≤ MMR_K rows
    return selected.select(
        "rank", "vec_id", F.round("mmr_score", 6).alias("mmr_score"), "rel"
    )


def _mmr_sql() -> str:
    lam, one_m = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    steps = []
    prev_sel = "sel1"
    for k in range(2, MMR_K + 1):
        steps.append(f"""
    cand{k} AS (
        SELECT p.vec_id, p.rel, MAX(s.sim) AS maxsim
        FROM pool p
        JOIN sims s ON s.a_id = p.vec_id
        JOIN {prev_sel} pk ON s.b_id = pk.vec_id
        WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
        GROUP BY p.vec_id, p.rel),
    pick{k} AS (
        SELECT {k} AS rank, vec_id,
               CAST({lam} AS DOUBLE) * rel
                   - CAST({one_m} AS DOUBLE) * maxsim AS mmr_score,
               rel
        FROM cand{k} ORDER BY mmr_score DESC, vec_id LIMIT 1),
    sel{k} AS (SELECT * FROM {prev_sel} UNION ALL SELECT * FROM pick{k})""")
        prev_sel = f"sel{k}"
    return f"""
    WITH q AS (
        SELECT embedding AS q_emb,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS q_norm
        FROM embeddings
        WHERE vec_id = 0
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0),
    pool AS (
        SELECT vec_id, embedding,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS norm_sq,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(q_emb AS DOUBLE[]))
                     / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * SQRT(q_norm)), 6) AS rel
        FROM embeddings, q
        WHERE vec_id <> 0
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) > 0
        ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}),
    sims AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[]))
                     / (SQRT(a.norm_sq) * SQRT(b.norm_sq)), 6) AS sim
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
    sel1 AS (
        SELECT 1 AS rank, vec_id, rel AS mmr_score, rel
        FROM pool ORDER BY rel DESC, vec_id LIMIT 1),{",".join(steps)}
    SELECT rank, vec_id, ROUND(mmr_score, 6) AS mmr_score, rel
    FROM {prev_sel}
"""


SQL_SIMILARITY_MMR = _mmr_sql()


KMEANS_K = 8
KMEANS_ITERS = 2  # assignment passes: KMEANS_ITERS - 1 Lloyd update rounds,
#                   then the final assignment that is reported


def kmeans_assign(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Distributed k-means (Lloyd), fixed iteration count, fully
    deterministic — the clustering pass a corpus pipeline runs to build
    IVF cells, dedup buckets, or topic groups over an embedding column.

    KMEANS_ITERS - 1 :func:`lloyd` rounds, then one final
    :func:`nearest` pass: assignment is a cross join against the K-row
    centroid relation (broadcast; argmin as min(struct(score, k)) so
    ties take the smallest cluster id) and the update is the
    decimal-exact mean per (cluster, dim), K·D rows rebuilt into arrays
    by sorted collect. The reported dist_sq is the true squared distance
    ||v||² + (||c||² − 2v·c): the shared two-term score plus the
    per-vector ||v||² fold, carried through the final argmin. No driver
    loop state: rounds unroll into one lazy plan; K and the round count
    are small constants, so plan depth stays shallow while every
    data-sized step is a hash shuffle or broadcast join. Seeding is the
    K smallest vec_ids (deterministic, matching the oracle CTE ``kc0``);
    an empty cluster simply drops out of the next round on both engines.
    At 100 TB: same plan, with the centroid relation still K rows — the
    classic MLlib shape expressed in pure DataFrame algebra.
    """
    # e is re-derived by each consumer (KMEANS_ITERS + 1 references: the
    # seeds and every assignment pass):
    # measured A/B at sf0.1 put scratch-parquet staging at 2.48 s vs
    # 1.85 s for the narrow recompute — the staging write costs more
    # than the saved scan+fold on a compact embedding table. At real
    # index scale the trade flips exactly as it did for shingle sets
    # (stage once, read thrice); see BASELINE.md.
    e = emb.select("vec_id", to_double(F.col("embedding")).alias("v"))
    e = e.select("vec_id", "v", dot(F.col("v"), F.col("v")).alias("dvv"))
    seeds = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("k"), F.col("v").alias("c")
    )
    cents = lloyd(e, seeds, KMEANS_ITERS - 1)
    return nearest(e, cents, carry=("dvv",)).select(
        "vec_id",
        F.col("k").cast("bigint").alias("cluster"),
        F.round(F.col("dvv") + F.col("score"), 6).alias("dist_sq"),
    )


def q_similarity_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 2-pass k-means over ``embeddings`` (K=8)."""
    return kmeans_assign(spread(load(spark, sf_dir, "embeddings"), "vec_id"))


def _kmeans_sql() -> str:
    score = "list_dot_product(c.c, c.c) - 2 * list_dot_product(e.v, c.c)"
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),{
        lloyd_ctes("e", KMEANS_K, KMEANS_ITERS - 1, "k")}
    SELECT vec_id, CAST(k AS BIGINT) AS cluster, ROUND(dvv + score, 6) AS dist_sq
    FROM (
        SELECT e.vec_id, c.k, list_dot_product(e.v, e.v) AS dvv,
               {score} AS score,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {score}, c.k) AS rn
        FROM e CROSS JOIN kc{KMEANS_ITERS - 1} c) WHERE rn = 1
"""


SQL_SIMILARITY_KMEANS = _kmeans_sql()


def q_similarity_kmeans_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report: per k-means cluster, its size, majority
    ground-truth label, and purity — did unsupervised structure recover
    the labels? The measure-the-pipeline companion to similarity_kmeans
    (clusters used as dedup buckets or topic groups are only as good as
    their homogeneity, and purity is the number that says so before a
    curation pass trusts them).

    The corpus-sized work is the k-means assignment itself (reused
    unchanged); everything after is a (cluster, label) contingency
    aggregation — K·|labels| bounded — closed with the mode pattern's
    max-join + smallest-label tiebreak. Purity is an exact integer
    ratio rounded once.
    """
    assign = kmeans_assign(
        spread(load(spark, sf_dir, "embeddings"), "vec_id")
    ).select("vec_id", "cluster")
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cells = (
        assign.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("n"))
    )
    top = cells.groupBy("cluster").agg(
        F.max("n").alias("n_majority"), F.sum("n").alias("n_vecs")
    )
    return (
        cells.join(top, ["cluster"])
        .filter(F.col("n") == F.col("n_majority"))
        .groupBy("cluster", "n_vecs", "n_majority")
        .agg(F.min("label").alias("majority_label"))
        .select(
            "cluster",
            "n_vecs",
            F.col("majority_label").cast("int").alias("majority_label"),
            "n_majority",
            F.round(
                F.col("n_majority").cast("double") / F.col("n_vecs").cast("double"),
                6,
            ).alias("purity"),
        )
    )


SQL_SIMILARITY_KMEANS_EVAL = f"""
    WITH assign AS ({SQL_SIMILARITY_KMEANS}),
    cells AS (
        SELECT a.cluster, e.label, COUNT(*) AS n
        FROM assign a JOIN embeddings e USING (vec_id)
        GROUP BY a.cluster, e.label),
    top AS (
        SELECT cluster, MAX(n) AS n_majority,
               CAST(SUM(n) AS BIGINT) AS n_vecs
        FROM cells GROUP BY cluster)
    SELECT c.cluster, t.n_vecs,
           CAST(MIN(c.label) AS INTEGER) AS majority_label,
           CAST(t.n_majority AS BIGINT) AS n_majority,
           ROUND(CAST(t.n_majority AS DOUBLE) / CAST(t.n_vecs AS DOUBLE), 6)
               AS purity
    FROM cells c JOIN top t
      ON c.cluster = t.cluster AND c.n = t.n_majority
    GROUP BY c.cluster, t.n_vecs, t.n_majority
"""


# ---------------------------------------------------------------------------
# IVF nprobe tuning sweep (the knob report a FAISS deployment reads)
# ---------------------------------------------------------------------------

IVF_SWEEP_PROBES = (1, 2, 4)


def q_similarity_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning report: recall@3 and candidate volume of IVF
    cell-probe search at n_probe ∈ {1, 2, 4} against exact brute force —
    the sweep a FAISS deployment runs to pick its recall/latency point
    (`dedup_threshold_sweep`'s sibling for the ANN knob). One row per
    n_probe: total truth pairs, hits, recall, and mean candidates per
    query — the cost axis (candidates scored) next to the quality axis.

    The coarse quantizer comes from the train-once cache and the probe
    ranking is computed ONCE to the sweep maximum (row_number ≤ 4);
    each sweep point just tightens the rank filter — no retraining, no
    re-ranking. r15 (guide §1.2 — don't compute things three times):
    the per-point loop used to re-run the corpus assignment pass, the
    rerank joins AND the brute-force truth per point; now the candidate
    relation (with each pair's probe_rank — a vector lives in ONE cell,
    so a pair has one rank), the scored rerank rows, and the truth set
    are each computed ONCE per invocation into localCheckpointed
    relations (all bounded: |cand@4|, ≤ 3·|Q| truth rows) and each
    sweep point is a rank filter + window + two tiny aggregates. n_cand
    still counts PRE-rerank candidates (zero vectors included — the
    cost axis is candidates fetched, not scorable ones). At scale the
    checkpointed assignment IS the persisted inverted file the sweep
    reads three times."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, plain)
    truth = (
        q_similarity_topk_batch(spark, sf_dir)
        .select("query_id", "vec_id")
        .localCheckpoint()
    )
    truth_n = truth.agg(F.count("*").alias("n_truth"))
    qd = (
        plain.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(_with_dcc(cents)))
        .withColumn("score", _score())
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
    cand_all = (
        ivf_assign(_ivf_relation(spark, sf_dir), cents)
        .join(F.broadcast(probes_all), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "probe_rank")
        .localCheckpoint()
    )
    scored_all = (
        cand_all.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id", "vec_id", "probe_rank", F.round(cos, 6).alias("cos_sim")
        )
        .localCheckpoint()
    )
    rows = None
    for p in IVF_SWEEP_PROBES:
        cand = cand_all.filter(F.col("probe_rank") <= p).select(
            "query_id", "vec_id"
        )
        scored = scored_all.filter(F.col("probe_rank") <= p)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        top3 = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "vec_id")
        )
        hits = truth.join(top3, ["query_id", "vec_id"], "left_semi")
        row = cand.agg(F.count("*").alias("n_cand")).crossJoin(
            hits.agg(F.count("*").alias("n_hit"))
        ).select(F.lit(p).cast("int").alias("n_probe"), "n_cand", "n_hit")
        rows = row if rows is None else rows.unionByName(row)
    return rows.crossJoin(F.broadcast(truth_n)).select(
        "n_probe",
        "n_truth",
        "n_hit",
        # empty-corpus totality: no truth pairs → recall undefined (NULL
        # on both engines), never an ANSI DIVIDE_BY_ZERO
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hit") / F.col("n_truth"), 6),
        ).alias("recall"),
        F.round(F.col("n_cand") / F.lit(N_QUERIES), 6).alias("avg_candidates"),
    )


def _ivf_probe_sweep_sql() -> str:
    dist = (
        "list_dot_product(c.c, c.c)"
        " - 2 * list_dot_product(e.v, c.c)"
    )
    qdist = dist.replace("e.", "q.")
    pmax = max(IVF_SWEEP_PROBES)
    branches = []
    for p in IVF_SWEEP_PROBES:
        branches.append(f"""
    SELECT {p} AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
            WHERE EXISTS (
                SELECT 1 FROM (
                    SELECT query_id, vec_id FROM (
                        SELECT s.query_id, s.vec_id,
                               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                   ORDER BY s.cos_sim DESC, s.vec_id) AS rank
                        FROM scored{p} s)
                    WHERE rank <= 3) a
                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id))
               AS n_hit,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{p}) AS n_cand""")
    cand_ctes = ",".join(
        f"""
    cand{p} AS MATERIALIZED (
        SELECT p.query_id, a.vec_id
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND p.probe_rank <= {p}
        WHERE a.vec_id <> p.query_id),
    scored{p} AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_dot_product(v.v, q.v)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM cand{p} c
        JOIN norms v ON c.vec_id = v.vec_id
        JOIN norms q ON c.query_id = q.vec_id)"""
        for p in IVF_SWEEP_PROBES
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_ivf_train_ctes()},
    assigned AS MATERIALIZED (
        SELECT vec_id, k AS cell FROM (
            SELECT e.vec_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.k) AS rn
            FROM e CROSS JOIN {_IVF_FINAL_C} c) WHERE rn = 1),
    probes AS (
        SELECT query_id, k AS cell, rn AS probe_rank FROM (
            SELECT q.vec_id AS query_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {qdist}, c.k) AS rn
            FROM (SELECT * FROM e WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN {_IVF_FINAL_C} c) WHERE rn <= {pmax}),
    norms AS MATERIALIZED (
        SELECT vec_id, v, list_dot_product(v, v) AS norm_sq FROM e
        WHERE list_dot_product(v, v) > 0),
    truth AS MATERIALIZED (
        SELECT query_id, vec_id FROM ({SQL_SIMILARITY_TOPK_BATCH})),{cand_ctes}
    SELECT n_probe, n_truth, n_hit,
           CASE WHEN n_truth > 0
                THEN ROUND(n_hit * 1.0 / n_truth, 6) END AS recall,
           ROUND(n_cand * 1.0 / {N_QUERIES}, 6) AS avg_candidates
    FROM ({" UNION ALL ".join(branches)})
"""



QUERIES = {
    "embedding_quantize": Query(q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    "similarity_kmeans": Query(q_similarity_kmeans, SQL_SIMILARITY_KMEANS),
    "similarity_kmeans_eval": Query(
        q_similarity_kmeans_eval, SQL_SIMILARITY_KMEANS_EVAL
    ),
    "similarity_rerank_mmr": Query(q_similarity_rerank_mmr, SQL_SIMILARITY_MMR),
    "similarity_ann_eval": Query(q_similarity_ann_eval, SQL_SIMILARITY_ANN_EVAL),
    "similarity_matryoshka_eval": Query(
        q_similarity_matryoshka_eval, SQL_SIMILARITY_MATRYOSHKA_EVAL
    ),
    "similarity_topk": Query(q_similarity_topk, SQL_SIMILARITY_TOPK),
    "similarity_topk_batch": Query(
        q_similarity_topk_batch, SQL_SIMILARITY_TOPK_BATCH, headline=True
    ),
    "similarity_ann_lsh": Query(q_similarity_ann_lsh, SQL_ANN_LSH),
    "similarity_ann_ivf": Query(q_similarity_ann_ivf, SQL_ANN_IVF, headline=True),
    "similarity_ivf_probe_sweep": Query(
        q_similarity_ivf_probe_sweep, _ivf_probe_sweep_sql()
    ),
    "similarity_knn_label_eval": Query(
        q_similarity_knn_label_eval, SQL_SIMILARITY_KNN_LABEL
    ),
    "similarity_centroids": Query(q_similarity_centroids, SQL_SIMILARITY_CENTROIDS),
}
