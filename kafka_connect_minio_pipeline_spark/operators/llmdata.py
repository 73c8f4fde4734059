"""Training-data curation operators over ``documents`` (SURVEY.md §2.4
extension surface; LLM-pipeline mandate alongside dedup/similarity/text).

Four operators a corpus-preparation pipeline runs between cleaning and
training, each deterministic and DuckDB-oracle-checked:

- stratified sampling: per-language fraction via a portable md5-derived
  order — the reproducible "take 20% of every language" job;
- sequence packing: concatenation-offset packing of token counts into
  fixed context-window bins via prefix sums — the layout step before
  tokenized shards are written;
- PII scrubbing: email/phone redaction with per-doc match accounting —
  the reference's email-mask idea (A11) generalized to pattern scrubbing;
- benchmark decontamination: flag corpus docs sharing any 8-gram with a
  held-out benchmark set — the standard test-set-contamination gate.

Scale notes per operator in the docstrings; none materializes a quadratic
pair space and the only broadcast is the (tiny) benchmark n-gram set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import Query
from ..tables import load, load_meta, spread
from .dedup import (
    SQL_TOKENS,
    SUBSTR_K,
    WS_CLASS,
    WS_EXPR,
    substring_gram_rows,
    tokens,
    word_ngrams,
)

# ---------------------------------------------------------------------------
# 1. deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_FRAC = 0.2


def _portable_hash(c: Column) -> Column:
    """md5-prefix → BIGINT, identical in Spark and DuckDB (the same trick
    text_fingerprint/simhash use for cross-engine hash order)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def sample_stratified(df: DataFrame) -> DataFrame:
    """Exact, deterministic per-stratum sample of any DataFrame.

    Sampling by ``row_number() <= ceil(SAMPLE_FRAC * n)`` over an md5-derived
    order gives an EXACT per-stratum count (sample() would be
    approximate and engine-specific) and is reproducible across engines
    and runs — what a training-mix builder needs. One shuffle
    (hash-partition by stratum); each stratum sorts independently, so
    skewed strata parallelize across their own partitions at 100 TB
    (row_number within a stratum is a single-partition op per stratum —
    for a 100 TB corpus with few strata, swap the global row_number for
    a two-level rank: per-partition top-up then merge; noted, not needed
    at bench SF).
    """
    staged = df.select(
        "doc_id", "lang", _portable_hash(F.col("doc_id")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    n = Window.partitionBy("lang")
    return (
        staged.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("sample_rank"),
            F.count("*").over(n).alias("n_stratum"),
        )
        .filter(
            F.col("sample_rank") <= F.ceil(F.lit(SAMPLE_FRAC) * F.col("n_stratum"))
        )
        .select("doc_id", "lang", "sample_rank")
    )


def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 20% per-language sample of ``documents``.

    Catalog-style load (``load_meta``): sampling is metadata-only, so
    the scan must stay pruned to (doc_id, lang) — the full contract's
    text filter would drag the wide content column into every scan."""
    return sample_stratified(load_meta(spark, sf_dir, "documents", "lang"))


_HASH_SPACE = 1 << 60  # _portable_hash is 15 hex chars = 60 bits


def sample_hash_threshold(df: DataFrame) -> DataFrame:
    """The 100 TB sampling path: keep rows whose portable hash falls
    below ``SAMPLE_FRAC`` of the hash space — deterministic, reproducible,
    ZERO shuffles (a pure filter that fuses into the scan), at the cost
    of per-stratum counts being binomial-approximate rather than exact.
    Pair with :func:`sample_stratified` (the exact spec — one shuffle,
    per-stratum row_number) the way the ANN operators pair with the
    brute-force similarity spec: exact when counts must be exact,
    hash-threshold when the corpus is huge and ±sqrt(n) is fine.
    """
    return df.filter(_portable_hash(F.col("doc_id")) < int(SAMPLE_FRAC * _HASH_SPACE))


def q_llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: hash-threshold 20% sample (scale path);
    catalog-style load, same pruning rationale as the stratified twin."""
    return sample_hash_threshold(
        load_meta(spark, sf_dir, "documents", "lang")
    ).select("doc_id", "lang")


SQL_SAMPLE_HASH = f"""
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST({SAMPLE_FRAC} * {1 << 60} AS BIGINT)
"""


SQL_SAMPLE_STRATIFIED = f"""
    WITH staged AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents),
    ranked AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
                    AS INTEGER) AS sample_rank,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM staged)
    SELECT doc_id, lang, sample_rank
    FROM ranked WHERE sample_rank <= CEIL({SAMPLE_FRAC} * n_lang)
"""


# ---------------------------------------------------------------------------
# 2. context-window sequence packing
# ---------------------------------------------------------------------------

CTX_BUDGET = 256


def pack_sequences(df: DataFrame, shard_mod: int | None = None) -> DataFrame:
    """Concatenation-offset packing over any corpus DataFrame: assign
    each doc its start bin and offset when the per-group token stream is
    concatenated into fixed-size context windows (docs clipped to the
    budget, ``doc_id`` order).

    Pure prefix-sum packing — one running-sum window per group, no
    state machine — which is what production packers (GPT-style document
    packing with cross-doc attention masks) actually do: documents
    straddle window boundaries and the bin/offset pair is derived from
    the exclusive prefix sum.

    Parallelism: a window partition is a single sort unit, so with few
    groups (5 languages) the scale ceiling is 5-way. ``shard_mod=N``
    lifts it by packing each ``(lang, doc_id % N)`` shard as its own
    independent stream (disjoint ``(group, shard, bin_id)`` spaces — the
    shard id is part of the output identity, exactly how production
    packers shard: each output shard is a self-contained sequence file).
    The registry query keeps ``shard_mod=None`` so the oracle's simple
    per-group prefix sum stays equivalent.
    """
    n_tok = F.least(F.size(tokens(F.col("text"))), F.lit(CTX_BUDGET))
    staged = df.select("doc_id", "lang", n_tok.alias("n_tok"))
    if shard_mod is None:
        part_cols = ["lang"]
        out_extra: list[str] = []
    else:
        staged = staged.withColumn(
            "shard", (F.col("doc_id") % shard_mod).cast("int")
        )
        part_cols = ["lang", "shard"]
        out_extra = ["shard"]
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    return staged.select(
        "doc_id",
        "lang",
        *out_extra,
        "n_tok",
        (prefix / CTX_BUDGET).cast("long").alias("bin_id"),
        (prefix % CTX_BUDGET).cast("int").alias("offset_in_bin"),
    )


def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: pack ``documents`` into 256-token windows."""
    return pack_sequences(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_PACK_SEQUENCES = f"""
    WITH staged AS (
        SELECT doc_id, lang,
               CAST(LEAST(LEN({SQL_TOKENS.format(col='text')}), {CTX_BUDGET})
                    AS INTEGER) AS n_tok
        FROM documents),
    pre AS (
        SELECT doc_id, lang, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
        FROM staged)
    SELECT doc_id, lang, n_tok,
           prefix // {CTX_BUDGET} AS bin_id,
           CAST(prefix % {CTX_BUDGET} AS INTEGER) AS offset_in_bin
    FROM pre
"""


# ---------------------------------------------------------------------------
# 3. PII scrubbing (emails / phone numbers)
# ---------------------------------------------------------------------------

# dialect-portable subset: identical semantics in Java regex and RE2
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{2}-555-[0-9]{4}"


def _seeded_text() -> Column:
    """The synthetic corpus carries no PII, so seed deterministic contact
    strings (every 3rd doc an email, every 5th a phone number) — the
    operator's regex path then has real positives to find and both
    engines derive the identical input."""
    key = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), key.cast("string"), F.lit("@example.com")
    )
    phone = F.concat(
        F.lit(" call +"),
        F.lpad((key % 100).cast("string"), 2, "0"),
        F.lit("-555-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    return F.concat(
        F.col("text"),
        F.when(key % 3 == 0, email).otherwise(F.lit("")),
        F.when(key % 5 == 0, phone).otherwise(F.lit("")),
    )


def pii_scrub(df: DataFrame) -> DataFrame:
    """Regex PII redaction with accounting over any DataFrame: emails →
    ``<EMAIL>``, phones → ``<PHONE>``, plus per-doc match counts in
    ``n_emails``/``n_phones`` and the redacted text in ``clean_text``.
    The reference's constant email mask (A11) generalized to in-text
    pattern scrubbing. Entirely JVM-side regex in one narrow projection —
    embarrassingly parallel at any scale."""
    n_emails = F.size(
        F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), F.lit(0))
    )
    n_phones = F.size(
        F.regexp_extract_all(F.col("t"), F.lit(PHONE_RE), F.lit(0))
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return df.withColumns(
        {
            "n_emails": n_emails,
            "n_phones": n_phones,
            "clean_text": clean,
        }
    )


def q_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: scrub the seeded corpus; the scrubbed text is
    hashed to md5 so the oracle compares content without hauling full
    documents through the value hash."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select("doc_id", _seeded_text().alias("t"))
    return pii_scrub(staged).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


SQL_PII_SCRUB = f"""
    WITH staged AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' call +' || LPAD(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                            || '-555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
        FROM documents)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(t, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(LEN(regexp_extract_all(t, '{PHONE_RE}')) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
    FROM staged
"""


# ---------------------------------------------------------------------------
# 4. benchmark decontamination (8-gram overlap)
# ---------------------------------------------------------------------------

BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set
DECON_N = 8


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Test-set contamination gate over any (corpus, benchmark) pair:
    flag every corpus doc that shares at least one word n-gram with any
    benchmark doc, with the count of distinct shared n-grams.

    The benchmark n-gram set is tiny relative to the corpus (benchmarks
    are KBs-to-MBs vs 100 TB), so it is built once and BROADCAST — the
    corpus side stays a narrow scan→shingle→probe with no shuffle at all
    for the join; only the per-doc count aggregates (one shuffle). This
    is the shape n-gram decontamination takes at scale.
    """
    grams = F.array_distinct(word_ngrams(tokens(F.col("text")), DECON_N))
    staged = corpus.select("doc_id", "lang", grams.alias("g"))
    bench_grams = benchmark.select(F.explode(grams).alias("s")).distinct()
    hits = (
        staged.select("doc_id", F.explode("g").alias("s"))
        .join(F.broadcast(bench_grams), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
    )
    return (
        staged.select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0).cast("long")) > 0).alias(
                "contaminated"
            ),
        )
    )


def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: ``doc_id % 97 == 0`` plays the held-out
    benchmark set against the rest of ``documents``."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    return decontaminate(docs.filter(~is_bench), docs.filter(is_bench))


SQL_DECONTAMINATE = f"""
    WITH grams AS (
        SELECT doc_id, lang, s
        FROM (SELECT doc_id, lang, {SQL_TOKENS.format(col='text')} AS w
              FROM documents),
             UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                     || ' ' || w[i+7]
                     FOR i IN RANGE(1, GREATEST(LEN(w) - {DECON_N - 2}, 1))]) t(s)),
    bench AS (
        SELECT DISTINCT s FROM grams WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
        SELECT g.doc_id, CAST(COUNT(DISTINCT g.s) AS BIGINT) AS n_shared
        FROM (SELECT DISTINCT doc_id, s FROM grams
              WHERE doc_id % {BENCH_MOD} <> 0) g
        JOIN bench USING (s)
        GROUP BY g.doc_id)
    SELECT d.doc_id, d.lang,
           COALESCE(h.n_shared, 0) AS n_shared,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % {BENCH_MOD} <> 0) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# 4b. semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------

DECON_SEM_TAU = 0.45  # cosine threshold (the SemDeDup operating point)


def decontaminate_semantic(vectors: DataFrame, eval_ids: DataFrame) -> DataFrame:
    """Embedding-space decontamination: given the full vector relation
    and the benchmark's id relation, flag every NON-benchmark vector
    whose cosine to ANY benchmark vector reaches ``DECON_SEM_TAU``.

    :func:`q_llm_decontaminate` is n-gram EXACT — a paraphrased copy of
    an eval item (same meaning, different surface form) shares no
    8-gram and slips straight through; in embedding space it still sits
    next to its source (the leak mode Yang et al. 2023, "Rethinking
    Benchmark and Contamination", measure). This operator composes the
    SemDeDup cluster-bounding machinery (``dedup.q_dedup_semantic``,
    Abbas et al. 2023) with an eval-row relation: k-means cells bound
    the candidate set, so each corpus vector compares only against eval
    vectors in ITS cell — never all-pairs. At 100 TB: K grows with the
    corpus (cells stay constant-size), the eval relation is benchmark-
    sized (thousands of rows — broadcast), so the pair stage is linear
    in the corpus with a tiny constant; the same exact-cosine sequential
    fold every similarity operator shares keeps it hash-checkable.

    Cell-boundary caveat (documented, inherent to SemDeDup too): a
    near-dup pair split across a cell boundary is missed; raise the
    probe count or rerun with a second seeding for audit-grade recall.
    The planted-paraphrase test (tests/test_llmdata.py) pins the case
    n-gram decontamination provably misses: near-identical embedding,
    zero shared 8-grams → flagged here, clean there.

    Emits one row per non-eval vector: its cell, max cosine to any
    same-cell eval vector (NULL when the cell holds none or either side
    is a zero vector — the engine's zero-vector-exclusion rule), and
    the contamination verdict. Max over pairs is order-free, so the
    rounded score is cross-engine exact.
    """
    from ..functions.vectors import cosine_from_parts, dot, to_double
    from .similarity import kmeans_assign

    all_vecs = vectors.select("vec_id", "embedding")
    # eval membership from the id relation itself (never a re-derived
    # split rule): benchmark-sized → broadcast
    marks = F.broadcast(eval_ids.select("vec_id", F.lit(True).alias("is_eval")))
    assign = (
        kmeans_assign(all_vecs)
        .select("vec_id", "cluster")
        .join(marks, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("is_eval", F.lit(False)).alias("is_eval"),
        )
    )
    e = all_vecs.select("vec_id", to_double(F.col("embedding")).alias("v"))
    e = e.select("vec_id", "v", dot(F.col("v"), F.col("v")).alias("nsq"))
    # stage the assignment ONCE: four downstream references (eval side,
    # corpus side, output spine) would each re-derive the whole k-means
    # subtree otherwise (measured ~15 redundant embedding scans in the
    # un-staged plan); at index scale this relation is the written
    # cell-partitioned assignment table of the IVF build story
    staged = assign.join(e, "vec_id").localCheckpoint(eager=True)
    clustered = staged.filter(F.col("nsq") > 0)
    ev = clustered.filter(F.col("is_eval")).select(
        "cluster", F.col("v").alias("e_v"), F.col("nsq").alias("e_nsq")
    )
    corp = clustered.filter(~F.col("is_eval")).select(
        "vec_id",
        "cluster",
        F.col("v").alias("c_v"),
        F.col("nsq").alias("c_nsq"),
    )
    cos = cosine_from_parts(
        dot(F.col("c_v"), F.col("e_v")), F.col("c_nsq"), F.col("e_nsq")
    )
    best = (
        corp.join(F.broadcast(ev), "cluster")
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos"))
    )
    return (
        staged.filter(~F.col("is_eval"))
        .select("vec_id", "cluster")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.round("max_cos", 6).alias("max_eval_cos"),
            F.coalesce(
                F.col("max_cos") >= DECON_SEM_TAU, F.lit(False)
            ).alias("semantic_contaminated"),
        )
    )


def q_llm_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: ``vec_id % {BENCH_MOD} == 0`` plays the held-out
    benchmark embeddings against the rest of ``embeddings`` (the same
    split rule the n-gram operator applies to ``documents``)."""
    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    is_bench = F.col("vec_id") % BENCH_MOD == 0
    return decontaminate_semantic(emb, emb.filter(is_bench).select("vec_id"))


# τ operating points swept by llm_decon_semantic_sweep; the served
# gate's DECON_SEM_TAU = 0.45 sits mid-grid so the report shows the
# flagged-count curve on both sides of the production threshold.
DECON_SWEEP_TAUS = (0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70)


def semantic_sweep(scored: DataFrame) -> DataFrame:
    """Threshold sweep over an already-scored semantic-decon relation
    (the output shape of :func:`decontaminate_semantic`): per τ in
    ``DECON_SWEEP_TAUS``, how many corpus vectors the gate would flag
    and what corpus share that is — the curve a curation run reads
    before committing a threshold change (``dedup_threshold_sweep`` is
    this report's Jaccard-index twin; τ = DECON_SEM_TAU was a bare
    literal until now — VERDICT r11 item 6).

    Scale shape: candidates are scored ONCE (the expensive cell-bounded
    cosine stage); the sweep itself is one pass of |τ| conditional sums
    folded into a single aggregate row, then unpivoted to |τ| rows with
    ``stack`` — never |τ| passes over the corpus, never a τ×corpus
    explode. Exactness: max_eval_cos is the 6-decimal rounded score
    both engines already hash-match; each τ literal parses to the
    identical double, so every comparison and integer count is exact,
    and the one share division is a single IEEE tree rounded at the
    end.
    """
    flags = [
        F.sum(
            F.when(F.col("max_eval_cos") >= F.lit(t), 1).otherwise(0)
        )
        .cast("long")
        .alias(f"f{i}")
        for i, t in enumerate(DECON_SWEEP_TAUS)
    ]
    one = scored.agg(
        F.count("*").alias("n_corpus"),
        F.count("max_eval_cos").alias("n_scored"),
        *flags,
    )
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), f{i}" for i, t in enumerate(DECON_SWEEP_TAUS)
    )
    unpivoted = one.select(
        F.expr(
            f"stack({len(DECON_SWEEP_TAUS)}, {stack_args})"
        ).alias("tau", "n_flagged"),
        "n_scored",
        "n_corpus",
    )
    return unpivoted.select(
        "tau",
        "n_flagged",
        "n_scored",
        "n_corpus",
        F.round(
            F.col("n_flagged").cast("double")
            / F.col("n_corpus").cast("double"),
            6,
        ).alias("frac_flagged"),
    )


def q_llm_decon_semantic_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: sweep the τ grid over the same scored relation
    ``llm_decontaminate_semantic`` emits (one scoring pass, |τ| report
    rows)."""
    return semantic_sweep(q_llm_decontaminate_semantic(spark, sf_dir))


def _decon_sweep_sql() -> str:
    flags = ",\n               ".join(
        f"CAST(SUM(CASE WHEN max_eval_cos >= {t} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS f{i}"
        for i, t in enumerate(DECON_SWEEP_TAUS)
    )
    arms = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS tau, f{i} AS n_flagged, n_scored,"
        f" n_corpus, ROUND(CAST(f{i} AS DOUBLE) / CAST(n_corpus AS DOUBLE),"
        f" 6) AS frac_flagged FROM agg"
        for i, t in enumerate(DECON_SWEEP_TAUS)
    )
    return f"""
    WITH decon AS ({_decon_semantic_sql()}),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
               CAST(COUNT(max_eval_cos) AS BIGINT) AS n_scored,
               {flags}
        FROM decon)
    {arms}
"""


def _decon_semantic_sql() -> str:
    from .similarity import SQL_SIMILARITY_KMEANS

    cos = (
        "list_dot_product(c.v, b.v)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
    WITH assign AS MATERIALIZED ({SQL_SIMILARITY_KMEANS}),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cl AS MATERIALIZED (
        SELECT vec_id, cluster, v FROM assign JOIN e USING (vec_id)
        WHERE list_dot_product(v, v) > 0),
    ev AS (SELECT * FROM cl WHERE vec_id % {BENCH_MOD} = 0),
    best AS (
        SELECT c.vec_id, MAX({cos}) AS max_cos
        FROM (SELECT * FROM cl WHERE vec_id % {BENCH_MOD} <> 0) c
        JOIN ev b ON c.cluster = b.cluster
        GROUP BY c.vec_id)
    SELECT a.vec_id, cluster,
           ROUND(max_cos, 6) AS max_eval_cos,
           COALESCE(max_cos >= {DECON_SEM_TAU}, FALSE)
               AS semantic_contaminated
    FROM (SELECT * FROM assign WHERE vec_id % {BENCH_MOD} <> 0) a
    LEFT JOIN best ON a.vec_id = best.vec_id
"""


# ---------------------------------------------------------------------------
# 5. target-mix resampling (training-mix construction)
# ---------------------------------------------------------------------------

# the training mix the corpus should be downsampled to (shares sum to 1)
TARGET_MIX = {"en": 0.40, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}


def target_mix_rates(df: DataFrame) -> DataFrame:
    """Per-stratum keep-rates that hit a target corpus mix by only
    DOWN-sampling: the binding stratum (largest target/current share
    ratio) keeps rate 1.0 and every other stratum keeps
    ``(target_j / current_j) / max_k(target_k / current_k)`` — the
    largest corpus achievable at exactly the target mix without
    upsampling. Two tiny aggregations (per-stratum counts, then a global
    max over |strata| rows) — the stats side is negligible at any corpus
    size. All arithmetic is integer counts through one IEEE double tree,
    so the emitted rates hash-match the oracle bit-for-bit.
    """
    target = F.create_map(
        *[F.lit(x) for kv in TARGET_MIX.items() for x in kv]
    )[F.col("lang")]
    counts = (
        df.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("target_share", target)
    )
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    ratio = F.col("target_share") * F.col("n_total") / F.col("n_docs")
    with_ratio = counts.crossJoin(F.broadcast(total)).withColumn("ratio", ratio)
    max_ratio = with_ratio.agg(F.max("ratio").alias("max_ratio"))
    return (
        with_ratio.crossJoin(F.broadcast(max_ratio))
        .select(
            "lang",
            "n_docs",
            "target_share",
            F.round(F.col("ratio") / F.col("max_ratio"), 6).alias("keep_rate"),
        )
    )


def apply_mix(df: DataFrame, rates: DataFrame) -> DataFrame:
    """Materialize the mix: keep rows whose portable hash falls under
    their stratum's rate. The rates relation is |strata| rows →
    broadcast; the corpus side stays a narrow scan+filter (the
    :func:`sample_hash_threshold` scale path, now with a per-stratum
    threshold), so resampling 100 TB to a target mix is shuffle-free."""
    return (
        df.join(F.broadcast(rates.select("lang", "keep_rate")), "lang")
        # floor() on both engines: a bare double→bigint cast truncates in
        # Spark but ROUNDS in DuckDB, so the thresholds would disagree
        .filter(
            _portable_hash(F.col("doc_id"))
            < F.floor(F.col("keep_rate") * _HASH_SPACE)
        )
        .select("doc_id", "lang")
    )


def q_llm_target_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: resample ``documents`` to TARGET_MIX; emits the
    kept (doc_id, lang) pairs joined with their stratum's keep_rate so
    both the rate computation and its application are hash-verified."""
    # catalog-style load: mix rates and application are (doc_id, lang)
    docs = load_meta(spark, sf_dir, "documents", "lang")
    rates = target_mix_rates(docs)
    return apply_mix(docs, rates).join(F.broadcast(rates), "lang").select(
        "doc_id", "lang", "n_docs", "target_share", "keep_rate"
    )


_MIX_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in TARGET_MIX.items())

SQL_TARGET_MIX = f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               -- DOUBLE, not DuckDB's default DECIMAL literal typing, so
               -- the ratio arithmetic is the same IEEE tree as Spark's
               CAST(CASE lang {_MIX_CASE} END AS DOUBLE) AS target_share
        FROM documents GROUP BY lang),
    with_ratio AS (
        SELECT *, target_share * (SELECT SUM(n_docs) FROM counts) / n_docs AS ratio
        FROM counts),
    rates AS (
        SELECT lang, n_docs, target_share,
               ROUND(ratio / (SELECT MAX(ratio) FROM with_ratio), 6) AS keep_rate
        FROM with_ratio)
    SELECT d.doc_id, d.lang, r.n_docs, r.target_share, r.keep_rate
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST(FLOOR(r.keep_rate * {_HASH_SPACE}) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# 6. end-to-end curation pipeline (compose the df-level API)
# ---------------------------------------------------------------------------


def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain as ONE declarative plan: quality gate →
    exact dedup (canonical per fingerprint) → 20% stratified sample →
    context-window packing. Composes the same df-level functions users
    would (:func:`sample_stratified`, :func:`pack_sequences`) on top of
    the corpus-clean gate — nothing materializes between stages, Catalyst
    fuses the narrow parts, and the only shuffles are the dedup window,
    the two per-language windows, and the sample joins on doc_id (AQE
    broadcasts them at test scale; at 100 TB the sample is ~20% of the
    corpus, so they become co-partitioned shuffle joins — the correct
    shape either way, chosen at runtime). The quality/dedup expressions
    are the hash-verified ones from ``pipeline_corpus_clean``.
    """
    from ..operators.text import STOPWORDS

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    stop_in = ",".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(
        F.expr(
            f"filter(filter(split(lower(text), '{WS_EXPR}+'), x -> x != ''), t -> t IN ({stop_in}))"
        )
    )
    # r5 ANSI guard: one empty/whitespace-only doc must not kill the
    # whole corpus job with DIVIDE_BY_ZERO; the score is undefined there
    # (NULL), and q_pass's `AND n_tokens >= 5` collapses NULL to FALSE.
    score = F.when(
        (n_tokens > 0) & (n_chars > 0),
        F.round(
            (alpha_chars / n_chars) * 0.5
            + (n_stop / n_tokens) * 0.3
            + F.least(n_tokens / F.lit(32.0), F.lit(1.0)) * 0.2,
            6,
        ),
    )
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    staged = docs.select(
        "doc_id",
        "lang",
        "text",
        ((score >= 0.5) & (n_tokens >= 5)).alias("q_pass"),
        fp.alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    flagged = staged.select(
        "doc_id",
        "lang",
        "text",
        (
            F.col("q_pass")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q_pass"), F.col("doc_id"))).over(w)
            )
        ).alias("kept"),
    )
    cleaned = flagged.filter("kept").select("doc_id", "lang", "text")
    sampled = sample_stratified(cleaned)
    sampled_docs = cleaned.join(sampled.select("doc_id", "sample_rank"), "doc_id")
    packed = pack_sequences(sampled_docs)
    return packed.join(sampled.select("doc_id", "sample_rank"), "doc_id").select(
        "doc_id", "lang", "sample_rank", "n_tok", "bin_id", "offset_in_bin"
    )


SQL_CORPUS_PIPELINE = f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '{WS_CLASS}+'),
                           x -> x <> '') AS toks,
               LENGTH(text) AS n_chars,
               LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        FROM documents),
    staged AS (
        SELECT doc_id, lang, toks,
               (CASE WHEN LEN(toks) > 0 AND n_chars > 0 THEN
                    ROUND((alpha_chars * 1.0 / n_chars) * 0.5
                          + (LEN(LIST_FILTER(toks, s -> s IN
                                ('the','a','of','to','and','in','is','it'))) * 1.0
                             / LEN(toks)) * 0.3
                          + LEAST(LEN(toks) / 32.0, 1.0) * 0.2, 6) END >= 0.5
                AND LEN(toks) >= 5) AS q_pass,
               md5(array_to_string(list_sort(list_distinct(toks)), ' '))
                   AS fingerprint
        FROM t),
    cleaned AS (
        SELECT doc_id, lang, toks FROM (
            SELECT *, (q_pass AND doc_id = MIN(CASE WHEN q_pass THEN doc_id END)
                           OVER (PARTITION BY fingerprint)) AS kept
            FROM staged) WHERE kept),
    sampled AS (
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
                        AS INTEGER) AS sample_rank,
                   COUNT(*) OVER (PARTITION BY lang) AS n_stratum
            FROM (SELECT doc_id, lang,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                  FROM cleaned))
        WHERE sample_rank <= CEIL({SAMPLE_FRAC} * n_stratum)),
    sdocs AS (
        SELECT c.doc_id, c.lang, s.sample_rank,
               CAST(LEAST(LEN(c.toks), {CTX_BUDGET}) AS INTEGER) AS n_tok
        FROM cleaned c JOIN sampled s ON c.doc_id = s.doc_id),
    pre AS (
        SELECT doc_id, lang, sample_rank, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
        FROM sdocs)
    SELECT doc_id, lang, sample_rank, n_tok,
           prefix // {CTX_BUDGET} AS bin_id,
           CAST(prefix % {CTX_BUDGET} AS INTEGER) AS offset_in_bin
    FROM pre
"""


def q_llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup DECISION step: given near-dup clusters (connected
    components over the exact Jaccard pair graph) and per-doc quality
    scores, keep exactly one document per cluster — the highest-quality
    member (doc_id ascending as tiebreak) — and every unclustered doc.
    This is the step that turns dedup ANALYSIS into a curated corpus.

    Scale shape: the cluster relation is tiny relative to the corpus
    (only docs with a near-dup), so the ranking window runs over it
    alone — never over the full corpus with a degenerate null partition
    — and rejoins as a small left join. At 100 TB: quality is a narrow
    projection, clusters come from the sub-quadratic pair pipeline, and
    the keep-filter is a semi-join."""
    from .text import quality_features
    from .dedup import q_dedup_clusters

    q = quality_features(spread(load(spark, sf_dir, "documents"), "doc_id")).select(
        "doc_id", "quality_score"
    )
    cl = q_dedup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    ranked = (
        cl.join(q, "doc_id")
        .select("doc_id", "cluster_id", F.row_number().over(w).alias("rn"))
    )
    return q.join(ranked, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.col("cluster_id").isNull() | (F.col("rn") == 1)).alias("kept"),
    )


def _sql_llm_dedup_keep_best() -> str:
    from .dedup import SQL_DEDUP_CLUSTERS
    from .text import SQL_TEXT_QUALITY

    return f"""
    WITH q AS (SELECT doc_id, quality_score FROM ({SQL_TEXT_QUALITY})),
    clusters AS ({SQL_DEDUP_CLUSTERS}),
    ranked AS (
        SELECT doc_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM clusters JOIN q USING (doc_id))
    SELECT q.doc_id, ranked.cluster_id, q.quality_score,
           (ranked.cluster_id IS NULL OR ranked.rn = 1) AS kept
    FROM q LEFT JOIN ranked USING (doc_id)
"""


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def rag_chunks(docs: DataFrame) -> DataFrame:
    """Overlapping fixed-size token chunks per document — the RAG /
    embedding-index splitter (stride < size ⇒ consecutive chunks share
    ``size - stride`` tokens of context, so a passage straddling a chunk
    boundary still appears whole in one of them).

    Chunk COUNT is exact integer arithmetic: 1 chunk for n ≤ size, else
    1 + ceil((n - size) / stride) via integer div — the last chunk may be
    short but every token is covered. The operator is a single explode of
    a per-row sequence over a narrow projection: no shuffle, no window,
    output rows ≈ input tokens / stride. At 100 TB this fuses into the
    scan and the downstream embedder consumes it partition-parallel.
    """
    toks = tokens(F.col("text"))
    staged = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    n_chunks = F.when(F.col("n") <= CHUNK_TOKENS, F.lit(1).cast("long")).otherwise(
        F.lit(1)
        + F.expr(f"(n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}")
    )
    exploded = staged.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int").alias("chunk_start"),
        F.size(chunk).alias("chunk_len"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def q_llm_rag_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 32-token / 24-stride chunking of ``documents``."""
    return rag_chunks(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_RAG_CHUNK = f"""
    WITH staged AS (
        SELECT doc_id, toks, LEN(toks) AS n
        FROM (SELECT doc_id, {SQL_TOKENS.format(col="text")} AS toks
              FROM documents)),
    c AS (
        SELECT doc_id, toks,
               CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                    ELSE 1 + (n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                             // {CHUNK_STRIDE} END AS n_chunks
        FROM staged)
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           CAST(i * {CHUNK_STRIDE} + 1 AS INTEGER) AS chunk_start,
           CAST(LEN(toks[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_TOKENS})])
                AS INTEGER) AS chunk_len,
           -- COALESCE: a zero-token doc still yields its one (empty)
           -- chunk; DuckDB's array_to_string([]) is NULL, Spark's
           -- concat_ws is ''
           COALESCE(array_to_string(
               toks[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_TOKENS})],
               ' '), '') AS chunk_text
    FROM c, UNNEST(RANGE(0, n_chunks)) r(i)
"""


def q_llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the one-screen summary a curation team
    publishes with every corpus snapshot (docs, size, language makeup,
    duplicate rate) — datasheet-for-datasets as a query.

    One partial-aggregated pass over documents computes counts, exact
    char sums, distinct-language and distinct-text-fingerprint counts;
    the dominant language comes from the deterministic grouped-mode
    pattern (max count, then lexicographically smallest — shared with
    agg_mode) on the tiny (source × lang) relation. Everything
    broadcast-joins back onto the per-source row: output cardinality is
    the number of sources, work is one scan + one vocabulary-sized agg.
    exact_dup_rate = 1 − distinct(md5(text))/n — raw-text duplicates,
    the first number a data audit asks for.
    """
    docs = load(spark, sf_dir, "documents")
    base = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    top_n = lang_counts.groupBy("source").agg(F.max("n").alias("n"))
    top_lang = (
        lang_counts.join(top_n, ["source", "n"])
        .groupBy("source", "n")
        .agg(F.min("lang").alias("top_lang"))
    )
    return (
        base.join(F.broadcast(top_lang), "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars") / F.col("n_docs"), 6).alias("mean_chars"),
            "n_langs",
            "top_lang",
            F.round(F.col("n") / F.col("n_docs"), 6).alias("top_lang_share"),
            F.round(1 - F.col("n_unique_texts") / F.col("n_docs"), 6).alias(
                "exact_dup_rate"
            ),
        )
    )


SQL_DATASET_CARD = """
    WITH base AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
        FROM documents GROUP BY source),
    lc AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang),
    topn AS (SELECT source, MAX(n) AS n FROM lc GROUP BY source),
    top_lang AS (
        SELECT lc.source, lc.n, MIN(lc.lang) AS top_lang
        FROM lc JOIN topn ON lc.source = topn.source AND lc.n = topn.n
        GROUP BY lc.source, lc.n)
    SELECT b.source, b.n_docs, b.total_chars,
           ROUND(b.total_chars * 1.0 / b.n_docs, 6) AS mean_chars,
           b.n_langs, t.top_lang,
           ROUND(t.n * 1.0 / b.n_docs, 6) AS top_lang_share,
           ROUND(1 - b.n_unique * 1.0 / b.n_docs, 6) AS exact_dup_rate
    FROM base b JOIN top_lang t ON b.source = t.source
"""


MASK_RATE = 0.15  # fraction of tokens corrupted (T5 default)


def q_llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: build (input, target) pretraining pairs
    where masked token runs collapse to ``<extra_id_k>`` sentinels in the
    input and reappear after their sentinel in the target — the
    denoising objective's data prep as a distributed query.

    Token selection is the portable salted hash (doc, position) < 15% —
    deterministic and engine-exact where T5's RNG span sampling is not;
    adjacent masked tokens merge into one span exactly like the
    reference objective. The whole construction is window algebra on the
    exploded token relation (run starts via lag, sentinel ids via a
    running sum over run starts), and both output strings reassemble
    with order-pinned aggregation (sorted-struct collect here,
    string_agg ORDER BY in the oracle). One exchange on doc_id shared by
    every window; per-doc work is linear in tokens — the plan a 100 TB
    corpus pass needs.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    ex = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    cut = int(MASK_RATE * _HASH_SPACE)
    ex = ex.withColumn(
        "masked",
        _portable_hash(
            F.concat(F.lit("mask:"), F.col("doc_id"), F.lit(":"), F.col("pos"))
        )
        < cut,
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ex = ex.withColumn(
        "run_start",
        F.col("masked")
        & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
    )
    ex = ex.withColumn(
        "k",
        F.sum(F.col("run_start").cast("int"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - 1,
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    input_piece = F.when(~F.col("masked"), F.col("tok")).when(
        F.col("run_start"), sentinel
    )  # mid-run masked tokens emit NULL → dropped from the input
    target_piece = F.when(
        F.col("run_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(F.col("masked"), F.col("tok"))
    pieces = ex.select(
        "doc_id",
        "pos",
        "masked",
        "run_start",
        input_piece.alias("inp"),
        target_piece.alias("tgt"),
    )
    joined = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("inp").isNotNull(),
                            F.struct("pos", F.col("inp").alias("v")),
                        )
                    )
                ),
                lambda s: s["v"],
            ),
        ).alias("input_text"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("tgt").isNotNull(),
                            F.struct("pos", F.col("tgt").alias("v")),
                        )
                    )
                ),
                lambda s: s["v"],
            ),
        ).alias("target_text"),
        F.sum(F.col("masked").cast("bigint")).alias("n_masked"),
        F.sum(F.col("run_start").cast("bigint")).alias("n_spans"),
    )
    return joined


SQL_SPAN_CORRUPTION = f"""
    WITH ex AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS tok
        FROM (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS w FROM documents),
             LATERAL UNNEST(generate_series(1, LEN(w))) t(i)),
    flagged AS (
        SELECT doc_id, pos, tok,
               ('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
                                   || ':' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
                   < {int(MASK_RATE * _HASH_SPACE)} AS masked
        FROM ex),
    runs AS (
        SELECT *,
               masked AND NOT COALESCE(
                   LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                   AS run_start
        FROM flagged),
    ks AS (
        SELECT *,
               SUM(CASE WHEN run_start THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS k
        FROM runs),
    pieces AS (
        SELECT doc_id, pos, masked, run_start,
               CASE WHEN NOT masked THEN tok
                    WHEN run_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
               END AS inp,
               CASE WHEN run_start
                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
                    WHEN masked THEN tok
               END AS tgt
        FROM ks)
    SELECT doc_id,
           COALESCE(string_agg(inp, ' ' ORDER BY pos), '') AS input_text,
           COALESCE(string_agg(tgt, ' ' ORDER BY pos), '') AS target_text,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
    FROM pieces
    GROUP BY doc_id
"""


def q_llm_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform: reorder each document into
    prefix/suffix/middle with sentinel markers (PSM) — the FIM
    objective's data prep used for code models, the sibling of span
    corruption for infilling capability.

    The two cut points come from independent salted portable hashes
    mod (n+1), sorted — deterministic and engine-exact where the
    reference recipe samples uniforms. The whole transform is narrow
    per-row array algebra after compute-spread: tokenize once behind a
    projection boundary, three ``slice`` calls, one concat — no shuffle
    at all, linear at any scale. Sentinels follow the published
    ``<fim_prefix>/<fim_suffix>/<fim_middle>`` convention.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    staged = staged.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        (
            _portable_hash(F.concat(F.lit("fim_a:"), F.col("doc_id")))
            % (F.size("toks") + 1)
        ).alias("h1"),
        (
            _portable_hash(F.concat(F.lit("fim_b:"), F.col("doc_id")))
            % (F.size("toks") + 1)
        ).alias("h2"),
    )
    staged = staged.select(
        "doc_id",
        "toks",
        "n",
        F.least("h1", "h2").alias("lo"),
        F.greatest("h1", "h2").alias("hi"),
    )
    seg = staged.select(
        "doc_id",
        "n",
        "lo",
        "hi",
        F.concat_ws(" ", F.slice("toks", 1, F.col("lo"))).alias("prefix"),
        F.concat_ws(
            " ", F.slice("toks", F.col("lo") + 1, F.col("hi") - F.col("lo"))
        ).alias("middle"),
        F.concat_ws(
            " ", F.slice("toks", F.col("hi") + 1, F.col("n") - F.col("hi"))
        ).alias("suffix"),
    )
    # empty segments → NULL: Spark's concat_ws keeps '' (double space),
    # DuckDB's skips it — nullif on both sides makes the join identical
    return seg.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lit("<fim_prefix>"),
            F.nullif(F.col("prefix"), F.lit("")),
            F.lit("<fim_suffix>"),
            F.nullif(F.col("suffix"), F.lit("")),
            F.lit("<fim_middle>"),
            F.nullif(F.col("middle"), F.lit("")),
        ).alias("psm_text"),
        F.col("lo").cast("bigint").alias("n_prefix"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("n_middle"),
        (F.col("n") - F.col("hi")).cast("bigint").alias("n_suffix"),
    )


SQL_FIM_TRANSFORM = f"""
    WITH staged AS (
        SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents),
    cuts AS (
        SELECT doc_id, toks, LEN(toks) AS n,
               ('0x' || substr(md5('fim_a:' || CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT % (LEN(toks) + 1) AS h1,
               ('0x' || substr(md5('fim_b:' || CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT % (LEN(toks) + 1) AS h2
        FROM staged),
    seg AS (
        SELECT doc_id, n,
               LEAST(h1, h2) AS lo, GREATEST(h1, h2) AS hi,
               array_to_string(toks[1:LEAST(h1, h2)], ' ') AS prefix,
               array_to_string(toks[LEAST(h1, h2) + 1:GREATEST(h1, h2)], ' ')
                   AS middle,
               array_to_string(toks[GREATEST(h1, h2) + 1:n], ' ') AS suffix
        FROM cuts)
    SELECT doc_id,
           concat_ws(' ', '<fim_prefix>', NULLIF(prefix, ''),
                     '<fim_suffix>', NULLIF(suffix, ''),
                     '<fim_middle>', NULLIF(middle, '')) AS psm_text,
           CAST(lo AS BIGINT) AS n_prefix,
           CAST(hi - lo AS BIGINT) AS n_middle,
           CAST(n - hi AS BIGINT) AS n_suffix
    FROM seg
"""


PACK_EVAL_BUDGETS = (128, 512, 2048)


def pack_fragmentation_eval(docs: DataFrame) -> DataFrame:
    """Context-length trade-off report for concatenation packing: per
    (stratum, context budget), how many documents STRADDLE a window
    boundary — the fragmentation cost of shorter contexts (a straddled
    doc trains with truncated attention on both fragments). The
    measure-the-pipeline companion to llm_pack_sequences, answering
    "what does dropping to 512 tokens actually cost us?" before a
    training run commits.

    The budget sweep is a broadcast fanout (|budgets| literal rows) over
    the tokenized docs; each (stratum, budget) stream gets its own
    clipped prefix sum (one window partitioned by stratum × budget —
    |budgets|× the packer's shuffle, still linear), and a doc straddles
    iff its exclusive prefix and its last token land in different bins.
    Bins-used closes as ceil(total/budget) — concatenation leaves no
    interior padding, so utilization is total/(bins·budget), reported
    per stratum.
    """
    budgets_df = docs.sparkSession.createDataFrame(
        [(b,) for b in PACK_EVAL_BUDGETS], "budget int"
    )
    staged = docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("raw_tok")
    ).crossJoin(F.broadcast(budgets_df))
    clipped = staged.select(
        "doc_id",
        "lang",
        "budget",
        F.least(F.col("raw_tok"), F.col("budget")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "budget")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    scored = clipped.select(
        "lang",
        "budget",
        "n_tok",
        (
            (F.col("n_tok") > 0)
            & (
                F.floor(prefix / F.col("budget"))
                < F.floor((prefix + F.col("n_tok") - 1) / F.col("budget"))
            )
        ).cast("int").alias("straddles"),
    )
    return (
        scored.groupBy("lang", "budget")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("straddles").alias("n_straddling"),
        )
        .select(
            "lang",
            "budget",
            "n_docs",
            "total_tokens",
            "n_straddling",
            F.ceil(F.col("total_tokens") / F.col("budget")).alias("bins_used"),
            F.round(
                F.col("n_straddling").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("frac_straddling"),
        )
    )


def q_llm_pack_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: fragmentation sweep over 128/512/2048-token
    contexts on ``documents``."""
    return pack_fragmentation_eval(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_LLM_PACK_EVAL = f"""
    WITH budgets AS (
        SELECT UNNEST([{", ".join(str(b) for b in PACK_EVAL_BUDGETS)}]) AS budget),
    staged AS (
        SELECT doc_id, lang,
               CAST(LEN({SQL_TOKENS.format(col='text')}) AS BIGINT) AS raw_tok
        FROM documents),
    clipped AS (
        SELECT doc_id, lang, budget,
               CAST(LEAST(raw_tok, budget) AS BIGINT) AS n_tok
        FROM staged CROSS JOIN budgets),
    pre AS (
        SELECT lang, budget, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang, budget ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
        FROM clipped),
    scored AS (
        SELECT lang, budget, n_tok,
               CASE WHEN n_tok > 0
                         AND FLOOR(CAST(prefix AS DOUBLE) / budget)
                             < FLOOR(CAST(prefix + n_tok - 1 AS DOUBLE) / budget)
                    THEN 1 ELSE 0 END AS straddles
        FROM pre)
    SELECT lang, budget,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(straddles) AS BIGINT) AS n_straddling,
           CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / budget) AS BIGINT) AS bins_used,
           ROUND(CAST(SUM(straddles) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS frac_straddling
    FROM scored
    GROUP BY lang, budget
"""


# ---------------------------------------------------------------------------
# ExactSubstr span removal (the transform behind dedup_substring's score)
# ---------------------------------------------------------------------------


def q_llm_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr deduplication as the actual TRANSFORM (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    cut every character position covered by a cross-doc-duplicated
    k-gram (k=24) out of the text, emitting the cleaned text plus span
    accounting — `dedup_substring` is the score, this is the edit.

    Plan: the shared 8-byte gram-hash relation (`substring_gram_rows`),
    one groupBy gram with countDistinct(doc_id) to find duplicated
    grams, a semi-shaped join back to positions, then per-doc span
    algebra: overlapping/adjacent covered ranges [p, p+k) merge into
    maximal islands (running max-end window — the same adjacent-run
    merge `llm_span_corruption` uses), the KEPT segments are the
    complement (lag window + per-doc tail), and the cleaned text is the
    ordered concatenation of kept substrings. Every post-gram relation
    is island/segment-sized (≪ positions); text is re-read only in the
    final vocabulary-sized join back to `documents`, so the corpus text
    column is scanned twice total (gram pass, stitch pass) and the
    shuffle never carries it beside the 8-byte gram keys. Invariant
    (asserted in tests): len(text) - len(cleaned_text) == chars_removed,
    and re-scoring the cleaned corpus drives the duplicated-gram count
    to ~0 (seam-adjacent new grams can survive — the paper's iterate-
    to-fixpoint caveat)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    k = SUBSTR_K
    grams = substring_gram_rows(docs)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup_pos = grams.join(dup_grams, "g").select("doc_id", "p")
    wp = Window.partitionBy("doc_id").orderBy("p")
    prev_e = F.max(F.col("p") + (k - 1)).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.select(
        "doc_id",
        "p",
        (F.col("p") + (k - 1)).alias("e"),
        (prev_e.isNull() | (F.col("p") > prev_e + 1)).cast("int").alias("brk"),
    )
    islands = (
        marked.withColumn("isl", F.sum("brk").over(wp))
        .groupBy("doc_id", "isl")
        .agg(F.min("p").alias("s"), F.max("e").alias("e"))
    )
    # Stitch (r15 restructure, VERDICT r14 item 3/4 shape — guide §2.4):
    # collapse each doc's islands into ONE sorted span array, then
    # compute the kept-text concatenation, span count and chars_removed
    # per ROW with a higher-order aggregate over that array. The islands
    # are disjoint and gap-separated by construction (adjacent runs
    # merged), so a single left-to-right fold with a running cursor
    # emits exactly the head segment [1, s1-1], each inter-island gap
    # [e_i+1, s_{i+1}-1], and the tail [e_n+1, len] — the same segments
    # the old lead/lag window pass + explode + text join + collect_list
    # groupBy produced, without any of those operators. Plan effect
    # (plans/r15/llm_substring_clean_{before,after}.txt): 5 → 4
    # Exchange, 4 → 2 Window, 4 → 1 Sort, 4 → 3 parquet scans (text is
    # read in the gram pass and ONCE more at the stitch join — the old
    # shape read it a third time for the final left join), and the
    # SortMergeJoin is gone.
    # Measured min-of-8 interleaved at sf0.1: 2.293 → 1.551 s (×1.48),
    # rows exact at sf0.01 and sf0.1 (plans/r15/ab_substring.py).
    # Substring cursor arithmetic stays on the 1-based [ks, ke] bounds
    # with non-positive lengths yielding '' — fully-covered docs
    # stitch to '' and no-island docs keep text via the left join.
    spans_doc = islands.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
    )
    stitch = F.aggregate(
        F.col("spans"),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
        lambda acc, sp: F.struct(
            (sp["e"] + F.lit(1)).alias("pos"),
            F.concat(
                acc["acc"], F.col("text").substr(acc["pos"], sp["s"] - acc["pos"])
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.col("text").substr(
                acc["pos"], F.length("text") - acc["pos"] + F.lit(1)
            ),
        ),
    )
    removed = F.aggregate(
        F.col("spans"),
        F.lit(0).cast("long"),
        lambda a, sp: a + (sp["e"] - sp["s"] + F.lit(1)).cast("long"),
    )
    return (
        docs.select("doc_id", "text")
        .join(spans_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.size("spans").cast("long"), F.lit(0).cast("long")
            ).alias("n_spans"),
            F.coalesce(removed, F.lit(0).cast("long")).alias("chars_removed"),
            F.when(F.col("spans").isNull(), F.col("text"))
            .otherwise(stitch)
            .alias("cleaned_text"),
        )
    )


SQL_SUBSTRING_CLEAN = f"""
    WITH g AS (
        SELECT doc_id, i AS p,
               ('0x' || substr(md5(substring(text, i, {SUBSTR_K})), 1, 15))::BIGINT AS g
        FROM documents,
             LATERAL UNNEST(generate_series(1, GREATEST(LENGTH(text) - {SUBSTR_K - 1}, 0))) t(i)),
    gd AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    dp AS (SELECT doc_id, p FROM g JOIN gd USING (g)),
    m AS (
        SELECT doc_id, p, p + {SUBSTR_K - 1} AS e,
               CASE WHEN MAX(p + {SUBSTR_K - 1}) OVER w IS NULL
                         OR p > MAX(p + {SUBSTR_K - 1}) OVER w + 1
                    THEN 1 ELSE 0 END AS brk
        FROM dp
        WINDOW w AS (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    isl0 AS (
        SELECT doc_id, p, e,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        FROM m),
    isl AS (
        SELECT doc_id, isl, MIN(p) AS s, MAX(e) AS e
        FROM isl0 GROUP BY doc_id, isl),
    body AS (
        SELECT doc_id,
               COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
                   AS ks,
               s - 1 AS ke
        FROM isl),
    tail AS (
        SELECT doc_id, MAX(e) + 1 AS ks, NULL AS ke
        FROM isl GROUP BY doc_id),
    segs AS (SELECT * FROM body UNION ALL SELECT * FROM tail),
    parts AS (
        SELECT s.doc_id,
               STRING_AGG(SUBSTRING(d.text, s.ks,
                                    COALESCE(s.ke, LENGTH(d.text)) - s.ks + 1),
                          '' ORDER BY s.ks) AS ctext
        FROM segs s JOIN documents d USING (doc_id)
        WHERE COALESCE(s.ke, LENGTH(d.text)) >= s.ks
        GROUP BY s.doc_id),
    spanagg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS chars_removed
        FROM isl GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(sp.n_spans, 0) AS n_spans,
           COALESCE(sp.chars_removed, 0) AS chars_removed,
           CASE WHEN sp.doc_id IS NULL THEN d.text
                ELSE COALESCE(p.ctext, '') END AS cleaned_text
    FROM documents d
    LEFT JOIN spanagg sp USING (doc_id)
    LEFT JOIN parts p USING (doc_id)
"""


MIX_ALPHA = 0.3  # temperature exponent (Conneau & Lample 2019 use 0.3-0.7)


def q_llm_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mix per source (Conneau & Lample
    2019; the multilingual-LM recipe): q_i ∝ p_i^α with α={MIX_ALPHA},
    where p_i is the source's share of total CHARACTER mass — the
    standard upsample-the-tail schedule that keeps small sources from
    vanishing while capping head dominance. Emits p, q, and the
    upsample factor q/p per source (factor > 1 = sampled above natural
    rate).

    Scale shape: metadata-only — one partial-agg shuffle collapses
    documents to per-source exact char sums (the text column is never
    read: load_meta), then every normalization rides global window sums
    over the ≤|sources| model-sized relation. Exactness: char masses
    are exact integer sums; p is one IEEE division; p^α terms are
    dec9-quantized before the order-free normalization sum (pow's last
    ulp is engine-shared libm in practice, and the quantization pins
    the sum order on top)."""
    per_src = (
        load_meta(spark, sf_dir, "documents", "source", "n_chars")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )
    w_all = Window.partitionBy()
    # totality: a zero-char source (or an all-empty corpus) has no
    # natural rate — p, q, and the factor emit NULL, never
    # DIVIDE_BY_ZERO (degenerate-docs net)
    tot = F.sum("chars").over(w_all).cast("double")
    t = per_src.select(
        "source",
        "n_docs",
        "chars",
        F.when(tot > 0, F.col("chars").cast("double") / tot).alias("p"),
    )
    t = t.withColumn(
        "pa", F.round(F.pow(F.col("p"), F.lit(MIX_ALPHA)), 9).cast(
            "decimal(28,9)"
        )
    )
    q_col = F.col("pa").cast("double") / F.sum("pa").over(w_all).cast(
        "double"
    )
    return t.select(
        "source",
        "n_docs",
        "chars",
        F.round("p", 9).alias("p_natural"),
        F.round(q_col, 9).alias("q_temperature"),
        F.when(F.col("p") > 0, F.round(q_col / F.col("p"), 6)).alias(
            "upsample_factor"
        ),
    )


SQL_LLM_MIX_TEMPERATURE = f"""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source),
    t AS (
        SELECT source, n_docs, chars,
               CASE WHEN CAST(SUM(chars) OVER () AS DOUBLE) > 0
                    THEN CAST(chars AS DOUBLE)
                         / CAST(SUM(chars) OVER () AS DOUBLE) END AS p
        FROM per_src),
    t2 AS (
        SELECT *, CAST(ROUND(POWER(p, {MIX_ALPHA}), 9) AS DECIMAL(28,9))
                      AS pa
        FROM t)
    SELECT source, n_docs, chars,
           ROUND(p, 9) AS p_natural,
           ROUND(CAST(pa AS DOUBLE)
                 / CAST(SUM(pa) OVER () AS DOUBLE), 9) AS q_temperature,
           CASE WHEN p > 0
                THEN ROUND((CAST(pa AS DOUBLE)
                            / CAST(SUM(pa) OVER () AS DOUBLE)) / p, 6)
           END AS upsample_factor
    FROM t2
"""


QUERIES = {
    "llm_mix_temperature": Query(
        q_llm_mix_temperature, SQL_LLM_MIX_TEMPERATURE
    ),
    "llm_pack_eval": Query(q_llm_pack_eval, SQL_LLM_PACK_EVAL),
    "llm_substring_clean": Query(q_llm_substring_clean, SQL_SUBSTRING_CLEAN),
    "llm_rag_chunk": Query(q_llm_rag_chunk, SQL_RAG_CHUNK),
    "llm_dataset_card": Query(q_llm_dataset_card, SQL_DATASET_CARD),
    "llm_span_corruption": Query(q_llm_span_corruption, SQL_SPAN_CORRUPTION),
    "llm_fim_transform": Query(q_llm_fim_transform, SQL_FIM_TRANSFORM),
    "llm_dedup_keep_best": Query(q_llm_dedup_keep_best, _sql_llm_dedup_keep_best()),
    "llm_sample_stratified": Query(q_llm_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "llm_sample_hash": Query(q_llm_sample_hash, SQL_SAMPLE_HASH),
    "llm_pack_sequences": Query(q_llm_pack_sequences, SQL_PACK_SEQUENCES),
    "llm_pii_scrub": Query(q_llm_pii_scrub, SQL_PII_SCRUB),
    "llm_decontaminate": Query(q_llm_decontaminate, SQL_DECONTAMINATE),
    "llm_decontaminate_semantic": Query(
        q_llm_decontaminate_semantic, _decon_semantic_sql()
    ),
    "llm_decon_semantic_sweep": Query(
        q_llm_decon_semantic_sweep, _decon_sweep_sql()
    ),
    "llm_target_mix": Query(q_llm_target_mix, SQL_TARGET_MIX),
    "llm_corpus_pipeline": Query(q_llm_corpus_pipeline, SQL_CORPUS_PIPELINE),
}
