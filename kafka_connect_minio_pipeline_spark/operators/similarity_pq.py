"""Product-quantization ANN family (FAISS PQ/ADC/IVFPQ, Jégou et al.
2011) — split out of ``operators.similarity`` for navigability (VERDICT
r12 item 7 hygiene bar: no source file over 2,500 lines; pure move, no
semantic change, registry names unchanged): subspace codebooks, PQ
encode, ADC search with exact rerank, the IVF×PQ composed index, its
residual-codebook variant, and the recall eval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_parts, dot, to_double
from ..registry import Query
from ..staging import session_cached
from ..tables import load
from .similarity import (
    IVF_CELLS,
    IVF_ITERS,
    IVF_PROBE,
    IVF_TRAIN_SAMPLE,
    N_QUERIES,
    SQL_SIMILARITY_TOPK_BATCH,
    _IVF_FINAL_C,
    _ivf_relation,
    _ivf_train_ctes,
    _probe_cells,
    _score,
    _with_dcc,
    _with_norms,
    ivf_centroids,
    lloyd,
    lloyd_ctes,
    nearest,
    q_similarity_topk_batch,
)

# ---------------------------------------------------------------------------
# product quantization (PQ) — the FAISS IVF-PQ compression path
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim vectors → 8 × 8-dim sub-vectors)
PQ_SUBDIM = 8
PQ_K = 16  # codes per subspace codebook (M·K = 128 codebook rows total)
PQ_ITERS = 2  # Lloyd update rounds per subspace (same budget as IVF_ITERS)
PQ_TRAIN_SAMPLE = 2048  # bounded training relation (FAISS-style)
ADC_SHORTLIST = 32  # ADC candidates kept per query for the exact rerank


def _sub_slices(col: str) -> F.Column:
    """array of the PQ_M contiguous sub-vector slices of ``col``."""
    return F.array(
        *[F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )


def _pq_subs(e: DataFrame) -> DataFrame:
    """(vec_id, sub int, v double[]) — every vector split into its PQ_M
    contiguous sub-vectors. One posexplode of an array-of-slices: narrow,
    codegen-friendly, no shuffle."""
    return e.select("vec_id", F.posexplode(_sub_slices("v")).alias("sub", "v"))


def _keyed(books: DataFrame) -> DataFrame:
    """(sub, k, c): a codebook in the centroid shape :func:`nearest` reads."""
    return books.withColumnRenamed("code", "k")


def pq_codebooks(e: DataFrame) -> DataFrame:
    """Per-subspace codebooks as pure dataflow: PQ_ITERS :func:`lloyd`
    rounds over the bounded training relation, all PQ_M subspaces trained
    in ONE plan (the subspace id is the ``group`` key). Returns
    (sub, code, c double[]) — ≤ PQ_M·PQ_K rows.

    Product quantization (Jégou et al., PAMI 2011 — the FAISS IVF-PQ
    design) is the 100 TB memory story for vector search: an M-byte code
    per vector replaces the 4·D-byte float embedding (here 8 codes vs
    256 bytes, 32×), and training cost is scale-invariant because the
    sample never grows. The trainer is the one :func:`ivf_quantizer`
    and ``kmeans_assign`` use, so the DuckDB oracle (:func:`lloyd_ctes`
    with the same group key) reproduces every codebook bit-for-bit.
    Seeding: per subspace, the PQ_K smallest vec_ids' sub-vectors (code =
    vec_id); an emptied code drops out of later rounds on both engines."""
    n = e.sparkSession.sparkContext.defaultParallelism
    s = (
        _pq_subs(e.filter(F.col("vec_id") < PQ_TRAIN_SAMPLE))
        .repartition(n, F.col("vec_id"), F.col("sub"))
        .localCheckpoint()
    )
    seeds = s.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("k"), F.col("v").alias("c")
    )
    books = lloyd(s, seeds, PQ_ITERS, group=("sub",))
    return books.withColumnRenamed("k", "code").localCheckpoint()  # ≤ M·K rows


def pq_books(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """The trained PQ codebooks for (session, sf) — train-once via
    :func:`staging.session_cached` (see its docstring for why reuse is
    exact)."""
    return session_cached(
        spark,
        sf_dir,
        ("embeddings",),
        ("pq_codebooks", PQ_M, PQ_K, PQ_ITERS, PQ_TRAIN_SAMPLE),
        lambda: pq_codebooks(e),
    )


def pq_encode(e: DataFrame, books: DataFrame) -> DataFrame:
    """The PQ code table: every vector → (vec_id, sub, code), its nearest
    codebook entry per subspace. One distributed pass: broadcast the
    ≤ M·K-row codebook, map-side-combined min-struct argmin — the corpus
    never shuffles wider than its pre-combined N·M code rows, and at
    scale THIS narrow relation (plus the codebook) is what gets stored
    instead of the raw float embeddings.

    r15 A/B (guide §4.2, VERDICT r14 item 5): the bit-exact numpy
    mapInArrow twin measured FLAT for ann_adc (kernel 1.65-1.86 vs
    relational 1.59-1.73 min-of-8/10, OPTIMIZATION_r15.md) — below the
    >15% adoption bar; the kernel pays off
    only where it collapses the assign AND encode passes into one
    (ivfpq_index / ivfpq_residual_index), so this single-pass encode
    stays relational."""
    return nearest(_pq_subs(e), _keyed(books), group=("sub",)).select(
        "vec_id", "sub", F.col("k").cast("int").alias("code")
    )


def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-quality report: per (subspace, code) cell, how many
    vectors encode to it and their mean squared reconstruction error —
    the distortion number a 100 TB deployment reads before swapping raw
    embeddings for M-byte codes (companion to embedding_quantize's
    scalar-int8 study; PQ is the FAISS-style vector-codebook variant).

    The corpus-sized work is one encode pass (broadcast codebook,
    two-term argmin); distortion adds the per-row ||sv||² fold, carried
    through the argmin, so the reported number is the TRUE squared
    distance ||sv||² + (||c||² - 2 sv·c). The mean is the order-free
    decimal(16,6) sum, rounded once — hash-exact cross-engine."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    books = pq_books(spark, sf_dir, plain)
    subs = _pq_subs(_ivf_relation(spark, sf_dir)).withColumn(
        "dsv", dot(F.col("v"), F.col("v"))
    )
    best = nearest(subs, _keyed(books), group=("sub",), carry=("dsv",))
    return (
        best.select(
            F.col("sub").cast("int").alias("sub"),
            F.col("k").cast("int").alias("code"),
            (F.col("dsv") + F.col("score")).alias("d"),
        )
        .groupBy("sub", "code")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(
                F.sum(F.col("d").cast("decimal(16,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_distortion"),
        )
    )


_SLICE = f"list_slice(v, m * {PQ_SUBDIM} + 1, (m + 1) * {PQ_SUBDIM})"


def _pq_train_sql() -> str:
    """Shared oracle CTE chain ending in the trained codebook
    :data:`_PQ_FINAL_B` (sub, k, c) plus the corpus subspace relation
    ``csubs`` (vec_id, sub, v): the PQ :func:`lloyd_ctes` chain over the
    bounded sample ``subs``, prefixed ``p``."""
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    csubs AS (
        SELECT vec_id, CAST(m AS INTEGER) AS sub, {_SLICE} AS v
        FROM e, LATERAL UNNEST(generate_series(0, {PQ_M - 1})) t(m)),
    subs AS (SELECT * FROM csubs WHERE vec_id < {PQ_TRAIN_SAMPLE}),{
        lloyd_ctes("subs", PQ_K, PQ_ITERS, "p", ("sub",))}"""


_PQ_FINAL_B = f"pc{PQ_ITERS}"

SQL_EMBEDDING_PQ = f"""{_pq_train_sql()},
    best AS (
        SELECT sub, code, dsv + score AS d FROM (
            SELECT s.sub, b.k AS code,
                   list_dot_product(s.v, s.v) AS dsv,
                   list_dot_product(b.c, b.c)
                       - 2 * list_dot_product(s.v, b.c) AS score,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(b.c, b.c)
                                - 2 * list_dot_product(s.v, b.c),
                                b.k) AS rn
            FROM csubs s JOIN {_PQ_FINAL_B} b USING (sub)) WHERE rn = 1)
    SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(d AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_distortion
    FROM best GROUP BY sub, code
"""


def q_similarity_ann_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 for the first N_QUERIES queries via PQ asymmetric
    distance computation (ADC) with exact rerank — the memory-bound
    complement to IVF's compute-bound cell probe: the query stays a raw
    float vector, the corpus scan touches only its M-code table, and
    each candidate's approximate distance is M lookup-table adds instead
    of a D-dim float fold.

    Plan: fetch the train-once codebooks (:func:`pq_books` — bounded
    training, shared per (session, sf) with ``embedding_pq`` and the
    IVF-PQ composition), encode the corpus (one broadcast
    pass), build the per-query lookup table (|Q|·M·K ≤ 1024 rows —
    broadcast), join the code table to the LUT on (sub, code) and sum
    the M partial distances per (query, vector), keep the ADC_SHORTLIST
    best per query, then rerank the shortlist by exact cosine — the
    FAISS search shape (approximate scan → exact rerank of a bounded
    candidate set). The per-query ||q_m||² terms are a constant shift
    that cancels in ADC ranking, so both engines compute the
    rank-equivalent two-term form (same rationale as _score);
    partials are cast to decimal(16,6) BEFORE the sum so the M-way
    addition is order-free — shortlist membership and the final scores
    are hash-exact cross-engine. At scale nothing but the narrow code
    table is scanned until the ≤ ADC_SHORTLIST·|Q| rerank rows."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    books = pq_books(spark, sf_dir, plain)
    codes = pq_encode(_ivf_relation(spark, sf_dir), books)
    qsubs = _pq_subs(plain.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "sub", "v"
    )
    lut = (
        qsubs.join(_with_dcc(books), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            _score().cast("decimal(16,6)").alias("d"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= ADC_SHORTLIST)
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
    reranked = (
        shortlist.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
    )


SQL_ANN_ADC = f"""{_pq_train_sql()},
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, b.k AS code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(b.c, b.c)
                                - 2 * list_dot_product(s.v, b.c),
                                b.k) AS rn
            FROM csubs s JOIN {_PQ_FINAL_B} b USING (sub)) WHERE rn = 1),
    lut AS (
        SELECT q.vec_id AS query_id, q.sub, b.k AS code,
               CAST(list_dot_product(b.c, b.c)
                    - 2 * list_dot_product(q.v, b.c) AS DECIMAL(16,6)) AS d
        FROM (SELECT * FROM csubs WHERE vec_id < {N_QUERIES}) q
        JOIN {_PQ_FINAL_B} b USING (sub)),
    scored AS (
        SELECT l.query_id, c.vec_id, SUM(l.d) AS adc
        FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc, vec_id) AS rn
            FROM scored)
        WHERE rn <= {ADC_SHORTLIST}),
    norms AS (
        SELECT vec_id, v, list_dot_product(v, v) AS norm_sq FROM e
        WHERE list_dot_product(v, v) > 0),
    reranked AS (
        SELECT s.query_id, s.vec_id,
               ROUND(list_dot_product(v.v, q.v)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM shortlist s
        JOIN norms v ON s.vec_id = v.vec_id
        JOIN norms q ON s.query_id = q.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER)
            AS rank
        FROM reranked)
    WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# IVF-PQ — the composed FAISS index (coarse cells + PQ codes + ADC search)
# ---------------------------------------------------------------------------


def ivfpq_index(e: DataFrame, cents: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, cell, sub, code) — the IVF-PQ index relation: every
    vector's coarse cell plus its M-code PQ encoding, built in ONE
    linear pass. The cell assignment carries ``v`` through ``first()``
    (exact — functionally dependent on the vec_id group key) so the PQ
    encode follows directly, with ``cell`` likewise carried through the
    encode group — no corpus⨝corpus join-back anywhere. Two map-side-
    combined shuffles total (argmin per vec_id; argmin per vec_id,sub),
    both broadcasts bounded (≤ IVF_CELLS cents; ≤ M·K codebook rows).

    At 100 TB this relation IS the stored index (Jégou et al. 2011;
    the FAISS IndexIVFPQ add() product): written partitioned BY cell so
    a probe reads only its cells' partitions, M bytes per vector instead
    of 4·D — raw floats are touched again only for the bounded rerank.
    This is the non-residual IVFPQ variant (codes quantize the raw
    vector, not the cell residual — FAISS's by_residual=False), so the
    codebooks are exactly the ones ``embedding_pq`` already audits.

    r15 (guide §4.2): the assign + encode collapse into ONE mapInArrow
    pass against the collected bounded models — zero exchanges instead
    of two corpus-wide min-struct aggregations, and no N·M·K-row
    broadcast-join blow-up. Bit-exact by the annkernels contract."""
    from ..functions.annkernels import ivfpq_index_arrow

    return ivfpq_index_arrow(e, cents, books, residual=False)


def q_similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via the composed FAISS IVF-PQ index: probe the
    IVF_PROBE nearest coarse cells per query, ADC-score ONLY the probed
    cells' vectors against the M-code table, shortlist, exact-cosine
    rerank — `similarity_ann_ivf`'s candidate pruning and
    `similarity_ann_adc`'s memory-bound scan composed into the actual
    FAISS IndexIVFPQ search shape (Jégou et al., PAMI 2011).

    Both trained models come from the train-once cache
    (:func:`ivf_centroids`, :func:`pq_books`) — shared with the
    stand-alone IVF/PQ queries, bit-identical to the per-statement
    retrain the oracle performs. The search joins are all bounded
    broadcasts: probes ≤ |Q|·IVF_PROBE rows, LUT ≤ |Q|·M·K rows; the
    index relation is the only corpus-sized input and at scale is
    partition-pruned by cell (see :func:`ivfpq_index`). ADC partials
    are decimal(16,6) before the M-way sum (order-free), so shortlist
    membership and final scores are hash-exact cross-engine. Recall vs
    brute force is reported by `similarity_ann_ivfpq_eval` and asserted
    in tests/test_dedup_similarity.py."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, plain)
    books = pq_books(spark, sf_dir, plain)
    idx = ivfpq_index(_ivf_relation(spark, sf_dir), cents, books)
    queries = plain.filter(F.col("vec_id") < N_QUERIES)
    probes = _probe_cells(queries, cents, IVF_PROBE).select(
        F.col("vec_id").alias("query_id"), F.col("k").cast("int").alias("cell")
    )
    lut = (
        _pq_subs(queries)
        .withColumnRenamed("vec_id", "query_id")
        .join(_with_dcc(books), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            _score().cast("decimal(16,6)").alias("d"),
        )
    )
    scored = (
        idx.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= ADC_SHORTLIST)
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
    reranked = (
        shortlist.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
    )


# the combined oracle: the PQ training chain (e, csubs, subs, pc*) plus the
# IVF training chain (s, ic*), then assignment, probes, codes, LUT, ADC
# within probed cells, shortlist, exact rerank
SQL_ANN_IVFPQ = f"""{_pq_train_sql()},{_ivf_train_ctes()},
    assigned AS (
        SELECT vec_id, k AS cell FROM (
            SELECT e.vec_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(c.c, c.c)
                                - 2 * list_dot_product(e.v, c.c),
                                c.k) AS rn
            FROM e CROSS JOIN {_IVF_FINAL_C} c) WHERE rn = 1),
    probes AS (
        SELECT query_id, k AS cell FROM (
            SELECT q.vec_id AS query_id, c.k,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_dot_product(c.c, c.c)
                                - 2 * list_dot_product(q.v, c.c),
                                c.k) AS rn
            FROM (SELECT * FROM e WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN {_IVF_FINAL_C} c) WHERE rn <= {IVF_PROBE}),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, b.k AS code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(b.c, b.c)
                                - 2 * list_dot_product(s.v, b.c),
                                b.k) AS rn
            FROM csubs s JOIN {_PQ_FINAL_B} b USING (sub)) WHERE rn = 1),
    lut AS (
        SELECT q.vec_id AS query_id, q.sub, b.k AS code,
               CAST(list_dot_product(b.c, b.c)
                    - 2 * list_dot_product(q.v, b.c) AS DECIMAL(16,6)) AS d
        FROM (SELECT * FROM csubs WHERE vec_id < {N_QUERIES}) q
        JOIN {_PQ_FINAL_B} b USING (sub)),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM assigned a JOIN probes p USING (cell)
        WHERE a.vec_id <> p.query_id),
    scored AS (
        SELECT n.query_id, n.vec_id, SUM(l.d) AS adc
        FROM cand n
        JOIN codes c ON n.vec_id = c.vec_id
        JOIN lut l ON l.query_id = n.query_id
                  AND l.sub = c.sub AND l.code = c.code
        GROUP BY n.query_id, n.vec_id),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc, vec_id) AS rn
            FROM scored)
        WHERE rn <= {ADC_SHORTLIST}),
    norms AS (
        SELECT vec_id, v, list_dot_product(v, v) AS norm_sq FROM e
        WHERE list_dot_product(v, v) > 0),
    reranked AS (
        SELECT s.query_id, s.vec_id,
               ROUND(list_dot_product(v.v, q.v)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM shortlist s
        JOIN norms v ON s.vec_id = v.vec_id
        JOIN norms q ON s.query_id = q.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER)
            AS rank
        FROM reranked)
    WHERE rank <= 3
"""


def q_similarity_ann_ivfpq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the composed IVF-PQ index against exact brute force,
    per query — the index-quality row a deployment reads next to
    `similarity_ann_eval` (LSH) before committing to cell/probe/code
    knobs: IVF-PQ loses recall BOTH to unprobed cells and to code-level
    distance distortion, so it needs its own measurement, not the LSH
    one. Same free comparison shape: left-semi join + two tiny
    aggregations over k·|Q| rows."""
    truth = q_similarity_topk_batch(spark, sf_dir).select("query_id", "vec_id")
    ann = q_similarity_ann_ivfpq(spark, sf_dir).select("query_id", "vec_id")
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


SQL_ANN_IVFPQ_EVAL = f"""
    WITH truth AS (
        SELECT query_id, vec_id FROM ({SQL_SIMILARITY_TOPK_BATCH})),
    ann AS (
        SELECT query_id, vec_id FROM ({SQL_ANN_IVFPQ})),
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



# ---------------------------------------------------------------------------
# residual IVF-PQ — FAISS's by_residual=True (PQ on v - centroid)
# ---------------------------------------------------------------------------


def residuals(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, v) — each vector's coarse cell plus its RESIDUAL
    v − c_cell. Residuals are what FAISS's IndexIVFPQ quantizes by
    default (by_residual=True): within one cell they spread over a far
    smaller ball than raw vectors, so the same K codes per subspace buy
    less distortion. One :func:`nearest` pass (carrying v) plus a 16-row broadcast join-back for
    the winning centroid; the subtraction is element-wise zip_with —
    exact IEEE, bit-identical to the oracle's list_transform."""
    assigned = nearest(e, cents, carry=("v",))
    return assigned.join(
        F.broadcast(cents.select("k", F.col("c").alias("cc"))), "k"
    ).select(
        "vec_id",
        F.col("k").cast("int").alias("cell"),
        F.zip_with("v", "cc", lambda a, b: a - b).alias("v"),
    )


def pq_residual_books(
    spark: SparkSession, sf_dir: str, e: DataFrame, cents: DataFrame
) -> DataFrame:
    """Train-once residual codebooks: the SAME decimal-exact
    :func:`pq_codebooks` trainer, fed the residual relation of the
    bounded training sample instead of raw vectors. Cache key carries
    both PQ and IVF hyperparameters (the codebooks depend on the coarse
    quantizer)."""
    return session_cached(
        spark,
        sf_dir,
        ("embeddings",),
        (
            "pq_residual_codebooks",
            PQ_M,
            PQ_K,
            PQ_ITERS,
            PQ_TRAIN_SAMPLE,
            IVF_CELLS,
            IVF_ITERS,
            IVF_TRAIN_SAMPLE,
        ),
        lambda: pq_codebooks(
            residuals(
                e.filter(F.col("vec_id") < PQ_TRAIN_SAMPLE), cents
            ).select("vec_id", "v")
        ),
    )


def ivfpq_residual_index(
    e: DataFrame, cents: DataFrame, books: DataFrame
) -> DataFrame:
    """(vec_id, cell, sub, code) — the residual IVF-PQ index: assign,
    subtract the cell centroid, PQ-encode the residual. Same ONE-pass
    mapInArrow shape as :func:`ivfpq_index` (r15, guide §4.2 — the
    centroid subtraction is the same exact elementwise IEEE op the
    zip_with performed); at scale the relation is written partitioned
    BY cell."""
    from ..functions.annkernels import ivfpq_index_arrow

    return ivfpq_index_arrow(e, cents, books, residual=True)


def q_similarity_ann_ivfpq_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN top-3 via residual IVF-PQ — the full-fidelity FAISS
    IndexIVFPQ (Jégou et al. 2011, by_residual=True): PQ codes quantize
    v − c_cell, and the ADC estimate for a candidate in cell k is
    ||q − c_k||² + Σ_m (||b_m||² − 2·(q−c_k)_m·b_m) — the coarse term no
    longer cancels across cells, so it is carried per (query, probed
    cell) explicitly (`cd`). The LUT is per (query, cell, sub, code):
    |Q|·IVF_PROBE·M·K ≤ 2048 rows, still a broadcast. Everything else
    keeps the non-residual plan: one corpus index pass, probes/LUT
    broadcast onto it, decimal(16,6) partials so the M-way sum is
    order-free, shortlist then exact-cosine rerank. Both models come
    from the train-once cache; the coarse-distance addition `qnorm +
    (dcc − 2 q·c)` is parenthesized IDENTICALLY in the oracle (float
    addition is not associative — the _score discipline)."""
    plain = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, plain)
    books = pq_residual_books(spark, sf_dir, plain, cents)
    idx = ivfpq_residual_index(_ivf_relation(spark, sf_dir), cents, books)
    qd = (
        plain.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(_with_dcc(cents)))
        .withColumn("score", _score())
    )
    wq = Window.partitionBy("vec_id").orderBy("score", "k")
    probes = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("k").cast("int").alias("cell"),
            (dot(F.col("v"), F.col("v")) + F.col("score")).alias("cd"),
            F.zip_with("v", "c", lambda a, b: a - b).alias("rv"),
        )
    )
    qsubs = probes.select(
        "query_id",
        "cell",
        F.posexplode(_sub_slices("rv")).alias("sub", "v"),
    )
    # explicit broadcast: qsubs descends from a window over a crossJoin,
    # so its size estimate is opaque and the ≤ M·K-row codebook side
    # would otherwise plan as a sort-merge join
    lut = qsubs.join(F.broadcast(_with_dcc(books)), "sub").select(
        "query_id",
        "cell",
        "sub",
        "code",
        _score().cast("decimal(16,6)").alias("d"),
    )
    coarse = probes.select("query_id", "cell", "cd")
    scored = (
        idx.join(F.broadcast(coarse), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "cell", "sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg((F.min("cd") + F.sum("d").cast("double")).alias("total"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("total").asc(), F.col("vec_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= ADC_SHORTLIST)
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
    reranked = (
        shortlist.join(em, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
    )


_R_FINAL_B = f"rc{PQ_ITERS}"

_CELL_ARGMIN = (
    "list_dot_product(c.c, c.c) - 2 * list_dot_product({side}.v, c.c)"
)

# The residual oracle below trains its codebooks over the IVF chain's
# training CTE ``s`` (vec_id < IVF_TRAIN_SAMPLE) — sharing the relation
# the Lloyd chain already built — while Spark's pq_residual_books
# filters vec_id < PQ_TRAIN_SAMPLE. Cross-engine parity therefore
# REQUIRES the two constants to agree; fail at import, not with a
# silent hash mismatch, if someone retunes one independently. An
# explicit raise, not ``assert``: asserts are stripped under
# ``python -O``, which would defeat the fail-at-import intent (ADVICE r9).
if PQ_TRAIN_SAMPLE != IVF_TRAIN_SAMPLE:
    raise ValueError(
        "SQL_ANN_IVFPQ_RESIDUAL trains residual codebooks over the IVF "
        "sample CTE; PQ_TRAIN_SAMPLE must equal IVF_TRAIN_SAMPLE (give "
        "the oracle its own training CTE before decoupling them)"
    )

SQL_ANN_IVFPQ_RESIDUAL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_ivf_train_ctes()},
    scell AS (
        SELECT vec_id, k, c FROM (
            SELECT s.vec_id, c.k, c.c,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                       ORDER BY {_CELL_ARGMIN.format(side="s")}, c.k) AS rn
            FROM s CROSS JOIN {_IVF_FINAL_C} c) WHERE rn = 1),
    sres AS (
        SELECT s.vec_id,
               list_transform(generate_series(1, len(s.v)),
                              i -> s.v[i] - sc.c[i]) AS v
        FROM s JOIN scell sc USING (vec_id)),
    rsubs AS (
        SELECT vec_id, CAST(m AS INTEGER) AS sub, {_SLICE} AS v
        FROM sres, LATERAL UNNEST(generate_series(0, {PQ_M - 1})) t(m)),{
        lloyd_ctes("rsubs", PQ_K, PQ_ITERS, "r", ("sub",))},
    cassign AS (
        SELECT vec_id, k AS cell, c FROM (
            SELECT e.vec_id, c.k, c.c,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_CELL_ARGMIN.format(side="e")}, c.k) AS rn
            FROM e CROSS JOIN {_IVF_FINAL_C} c) WHERE rn = 1),
    cres AS (
        SELECT e.vec_id, a.cell,
               list_transform(generate_series(1, len(e.v)),
                              i -> e.v[i] - a.c[i]) AS v
        FROM e JOIN cassign a USING (vec_id)),
    crsubs AS (
        SELECT vec_id, cell, CAST(m AS INTEGER) AS sub, {_SLICE} AS v
        FROM cres, LATERAL UNNEST(generate_series(0, {PQ_M - 1})) t(m)),
    codes AS (
        SELECT vec_id, cell, sub, code FROM (
            SELECT s.vec_id, s.cell, s.sub, b.k AS code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(b.c, b.c)
                                - 2 * list_dot_product(s.v, b.c),
                                b.k) AS rn
            FROM crsubs s JOIN {_R_FINAL_B} b USING (sub)) WHERE rn = 1),
    qprobe AS (
        SELECT query_id, cell, c, cd FROM (
            SELECT q.vec_id AS query_id, c.k AS cell, c.c,
                   list_dot_product(q.v, q.v)
                       + (list_dot_product(c.c, c.c)
                          - 2 * list_dot_product(q.v, c.c)) AS cd,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_CELL_ARGMIN.format(side="q")}, c.k) AS rn
            FROM (SELECT * FROM e WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN {_IVF_FINAL_C} c) WHERE rn <= {IVF_PROBE}),
    qres AS (
        SELECT p.query_id, p.cell, p.cd,
               list_transform(generate_series(1, len(q.v)),
                              i -> q.v[i] - p.c[i]) AS v
        FROM qprobe p JOIN e q ON q.vec_id = p.query_id),
    qrsubs AS (
        SELECT query_id, cell, CAST(m AS INTEGER) AS sub, {_SLICE} AS v
        FROM qres, LATERAL UNNEST(generate_series(0, {PQ_M - 1})) t(m)),
    lut AS (
        SELECT q.query_id, q.cell, q.sub, b.k AS code,
               CAST(list_dot_product(b.c, b.c)
                    - 2 * list_dot_product(q.v, b.c) AS DECIMAL(16,6)) AS d
        FROM qrsubs q JOIN {_R_FINAL_B} b USING (sub)),
    scored AS (
        SELECT p.query_id, c.vec_id,
               MIN(p.cd) + CAST(SUM(l.d) AS DOUBLE) AS total
        FROM codes c
        JOIN qprobe p ON c.cell = p.cell AND c.vec_id <> p.query_id
        JOIN lut l ON l.query_id = p.query_id AND l.cell = c.cell
                  AND l.sub = c.sub AND l.code = c.code
        GROUP BY p.query_id, c.vec_id),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY total, vec_id) AS rn
            FROM scored)
        WHERE rn <= {ADC_SHORTLIST}),
    norms AS (
        SELECT vec_id, v, list_dot_product(v, v) AS norm_sq FROM e
        WHERE list_dot_product(v, v) > 0),
    reranked AS (
        SELECT s.query_id, s.vec_id,
               ROUND(list_dot_product(v.v, q.v)
                     / (SQRT(v.norm_sq) * SQRT(q.norm_sq)), 6) AS cos_sim
        FROM shortlist s
        JOIN norms v ON s.vec_id = v.vec_id
        JOIN norms q ON s.query_id = q.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER)
            AS rank
        FROM reranked)
    WHERE rank <= 3
"""


QUERIES = {
    "embedding_pq": Query(q_embedding_pq, SQL_EMBEDDING_PQ),
    "similarity_ann_adc": Query(q_similarity_ann_adc, SQL_ANN_ADC),
    "similarity_ann_ivfpq": Query(q_similarity_ann_ivfpq, SQL_ANN_IVFPQ),
    "similarity_ann_ivfpq_residual": Query(
        q_similarity_ann_ivfpq_residual, SQL_ANN_IVFPQ_RESIDUAL
    ),
    "similarity_ann_ivfpq_eval": Query(
        q_similarity_ann_ivfpq_eval, SQL_ANN_IVFPQ_EVAL
    ),
}
