"""Corpus-layout operators: deterministic global shuffle, shard
assignment, and train/val/test splitting for training-data export
(SURVEY.md §2.4 LLM-curation surface; tail registry position — verified
by the local DuckDB parity net like the other tail families).

A training run needs the corpus in a pseudo-random but REPRODUCIBLE
order, cut into shards a loader can consume in parallel, with held-out
validation/test splits that stay stable when the corpus is regenerated.
All three come from one portable md5-derived hash of the stable document
id (the same hash primitive as ``llm_sample_stratified`` /
``llm_target_mix``): no RNG state, no driver-side pass, rerun-identical
on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import Query
from ..tables import load, load_meta, spread
from .dedup import SQL_TOKENS, tokens, word_ngrams
from .llmdata import _HASH_SPACE, _portable_hash

N_SHARDS = 8
# hash-space fractions: [0, .90) train / [.90, .95) val / [.95, 1) test
SPLIT_BOUNDS = (0.90, 0.95)


def shuffle_split(df: DataFrame) -> DataFrame:
    """Deterministic shuffle + shard + split assignment per document.

    Two INDEPENDENT hashes (salted differently) drive split membership
    and shuffle order, so the validation set is itself shuffled rather
    than being the tail of the training order. Shard = pmod(order_hash,
    N_SHARDS) spreads documents evenly; position = row_number within
    shard by (order_hash, id) is the loader's read order. The only
    shuffle is the per-shard window, whose partition count is
    ``N_SHARDS`` — at 100 TB raise ``N_SHARDS`` to O(output files)
    (it is the write parallelism anyway), or drop the position column
    and let shard files stay unordered (loaders that shuffle in-memory
    don't need it) for a fully narrow plan.
    """
    split_hash = _portable_hash(F.concat(F.lit("split:"), F.col("doc_id")))
    order_hash = _portable_hash(F.concat(F.lit("order:"), F.col("doc_id")))
    lo = F.floor(F.lit(SPLIT_BOUNDS[0]) * _HASH_SPACE)
    hi = F.floor(F.lit(SPLIT_BOUNDS[1]) * _HASH_SPACE)
    split = (
        F.when(split_hash < lo, "train")
        .when(split_hash < hi, "val")
        .otherwise("test")
    )
    assigned = df.select(
        "doc_id",
        split.alias("split"),
        F.pmod(order_hash, F.lit(N_SHARDS)).cast("int").alias("shard"),
        order_hash.alias("order_hash"),
    )
    w = Window.partitionBy("shard").orderBy("order_hash", "doc_id")
    return assigned.select(
        "doc_id",
        "split",
        "shard",
        F.row_number().over(w).cast("int").alias("position"),
    )


def q_corpus_shuffle_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: shuffle/shard/split layout of ``documents``."""
    # catalog-style load: layout assignment is pure doc_id metadata —
    # the contract's text filter would drag the content column into
    # what should be the narrowest scan in the repo
    return shuffle_split(load_meta(spark, sf_dir, "documents"))


_MD5 = "('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"

SQL_CORPUS_SHUFFLE_SPLIT = f"""
    WITH assigned AS (
        SELECT doc_id,
               CASE WHEN {_MD5.format(salt='split:')}
                         < CAST(FLOOR({SPLIT_BOUNDS[0]} * {_HASH_SPACE}) AS BIGINT)
                    THEN 'train'
                    WHEN {_MD5.format(salt='split:')}
                         < CAST(FLOOR({SPLIT_BOUNDS[1]} * {_HASH_SPACE}) AS BIGINT)
                    THEN 'val'
                    ELSE 'test' END AS split,
               CAST({_MD5.format(salt='order:')} % {N_SHARDS} AS INTEGER) AS shard,
               {_MD5.format(salt='order:')} AS order_hash
        FROM documents)
    SELECT doc_id, split, shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY order_hash, doc_id) AS INTEGER)
               AS position
    FROM assigned
"""


VOCAB_TOP_N = 200


def vocab_top(docs: DataFrame) -> DataFrame:
    """Top-N vocabulary with cumulative corpus coverage (the seed list a
    BPE/WordPiece trainer starts from).

    Token counting is explode + one partial-aggregated groupBy (shuffle
    volume O(|vocab|)); the top-N is orderBy+limit — TakeOrdered, never a
    global sort; the cumulative-coverage running sum is a window over the
    N surviving rows only (any partitioning works on N rows), with the
    corpus-total token count broadcast from a second tiny aggregate. At
    100 TB nothing here materializes more than |vocab| rows after the
    scan."""
    toks = (
        spread(docs, "doc_id")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occur"))
    total = counts.agg(F.sum("n_occur").alias("n_total"))
    top = counts.orderBy(F.col("n_occur").desc(), "token").limit(VOCAB_TOP_N)
    w = (
        Window.orderBy(F.col("n_occur").desc(), "token")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("n_occur").desc(), "token"))
            .cast("int")
            .alias("rank"),
            "token",
            "n_occur",
            F.round(
                F.sum("n_occur").over(w).cast("double") / F.col("n_total"), 6
            ).alias("cum_coverage"),
        )
    )


def q_corpus_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: top-200 vocabulary over ``documents``."""
    return vocab_top(load(spark, sf_dir, "documents"))


SQL_CORPUS_VOCAB_TOP = f"""
    WITH counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occur
        FROM (SELECT UNNEST({{toks}}) AS token FROM documents)
        GROUP BY token),
    total AS (SELECT SUM(n_occur) AS n_total FROM counts),
    top AS (
        SELECT * FROM counts ORDER BY n_occur DESC, token LIMIT {VOCAB_TOP_N})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occur DESC, token) AS INTEGER)
               AS rank,
           token, n_occur,
           ROUND(CAST(SUM(n_occur) OVER (
                     ORDER BY n_occur DESC, token
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_total, 6)
               AS cum_coverage
    FROM top CROSS JOIN total
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText-style
    quality rules): duplicate-token fraction and the fraction of all
    bigrams taken by the single most frequent bigram. High values flag
    boilerplate/spam that perplexity filters miss.

    Entirely narrow — per-row array algebra after a compute-spread, no
    aggregation at all, so it composes into any quality gate as a free
    projection. The most-frequent-bigram count is computed per row with
    aggregate() over the bigram array (count occurrences of each
    distinct bigram via filter+size under a max fold would be O(n²) per
    doc — instead sort the bigram array and take the longest run, which
    is O(n log n) per doc and vectorized)."""
    toks = tokens(F.col("text"))
    bigrams = word_ngrams(toks, 2)
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sorted_bg = F.array_sort(bigrams)
    # longest run of equal neighbors in the sorted bigram array:
    # fold with state (best_run, cur_run, prev) encoded as a struct
    run = F.aggregate(
        sorted_bg,
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("cur"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.when(n_tok > 0, (n_tok - n_uniq) / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("dup_token_frac"),
        F.when(F.size(bigrams) > 0, F.round(run / F.size(bigrams), 6))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def q_corpus_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: repetition quality signals over ``documents``."""
    return repetition_stats(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_CORPUS_REPETITION = """
    WITH t AS (
        SELECT doc_id, {toks} AS toks FROM documents),
    b AS (
        SELECT doc_id, toks,
               list_sort([toks[i] || ' ' || toks[i+1]
                          FOR i IN RANGE(1, GREATEST(LEN(toks), 1))]) AS bg
        FROM t),
    runs AS (
        SELECT doc_id, bg, LEN(toks) AS n_tok,
               LEN(list_distinct(toks)) AS n_uniq,
               COALESCE((SELECT MAX(c) FROM (
                   SELECT COUNT(*) AS c FROM UNNEST(bg) u(s) GROUP BY s)), 0)
                   AS top_run
        FROM b)
    SELECT doc_id,
           CAST(n_tok AS INTEGER) AS n_tokens,
           ROUND(CASE WHEN n_tok > 0
                      THEN (n_tok - n_uniq) * 1.0 / n_tok ELSE 0.0 END, 6)
               AS dup_token_frac,
           CASE WHEN LEN(bg) > 0 THEN ROUND(top_run * 1.0 / LEN(bg), 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM runs
"""


# language → sampling weight for the interleaved training order (a
# high-resource/low-resource rebalance: zh/fr/de/es documents appear
# 2x as often per unit of corpus as en)
INTERLEAVE_WEIGHTS = {"en": 1.0, "de": 2.0, "fr": 2.0, "es": 2.0, "zh": 2.0}


N_INTERLEAVE_SHARDS = 16


def interleave(df: DataFrame) -> DataFrame:
    """Weighted multi-source interleaving: a deterministic reading order
    where stratum s is visited proportionally to its weight — the
    standard multi-corpus curriculum mix (e.g. upsampling low-resource
    languages) expressed as a sort key instead of a sampler.

    Every document keeps position ``rank_within_stratum / weight`` on a
    shared virtual timeline; that key IS the interleave (a stratum with
    weight 2 appears twice as densely). Shuffled order WITHIN each
    stratum comes from the same portable hash as
    ``corpus_shuffle_split``.

    The output is SHARDED, never globally numbered: the order_key range
    is cut into ``N_INTERLEAVE_SHARDS`` equal slices (shard boundaries are pure
    value functions of order_key, so assignment is embarrassingly
    parallel and engine-portable), and each document gets its position
    WITHIN its shard. Loaders consume shards in shard_id order, rows in
    shard_pos order — the concatenation is exactly the virtual-timeline
    interleave, but no single task ever sees more than one shard.
    Exchanges: stratum window + shard window + one scalar max broadcast;
    at 100 TB raise ``N_INTERLEAVE_SHARDS`` to O(output files) and the per-shard
    window stays bounded.
    """
    # unmapped strata default to weight 1.0 — a NULL weight would NULL the
    # order_key, and Spark sorts NULLS FIRST where DuckDB sorts NULLS LAST,
    # silently desynchronizing every downstream position
    w_expr = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in INTERLEAVE_WEIGHTS.items() for x in kv]
            ),
            F.col("lang"),
        ).cast("double"),
        F.lit(1.0),
    )
    h = _portable_hash(F.concat(F.lit("ileave:"), F.col("doc_id")))
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(h, "doc_id")
    )
    staged = df.select(
        "doc_id",
        "lang",
        (rk.cast("double") / w_expr).alias("order_key"),
    )
    max_ok = staged.agg(F.max("order_key").alias("max_ok"))
    shard = F.least(
        F.lit(N_INTERLEAVE_SHARDS - 1).cast("long"),
        F.floor(
            F.col("order_key") / F.col("max_ok") * F.lit(float(N_INTERLEAVE_SHARDS))
        ),
    ).cast("int")
    bucketed = staged.crossJoin(F.broadcast(max_ok)).select(
        "doc_id", "lang", "order_key", shard.alias("shard_id")
    )
    return bucketed.select(
        "doc_id",
        "lang",
        F.round("order_key", 6).alias("order_key"),
        "shard_id",
        F.row_number()
        .over(
            # asc_nulls_last on the stratum tiebreak: Spark's ASC default
            # is NULLS FIRST, DuckDB's is NULLS LAST — a NULL-stratum row
            # would silently shift every later shard_pos by one
            Window.partitionBy("shard_id").orderBy(
                F.col("order_key").asc(),
                F.col("lang").asc_nulls_last(),
                F.col("doc_id").asc(),
            )
        )
        .cast("int")
        .alias("shard_pos"),
    )


def q_corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: weighted language interleave of ``documents``."""
    # catalog-style load: interleave ordering is (doc_id, lang) metadata
    return interleave(load_meta(spark, sf_dir, "documents", "lang"))


_W_CASE = (
    " ".join(f"WHEN '{k}' THEN {v}" for k, v in INTERLEAVE_WEIGHTS.items())
    + " ELSE 1.0"
)

SQL_CORPUS_INTERLEAVE = f"""
    WITH staged AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_MD5.format(salt='ileave:')}, doc_id
               ) AS DOUBLE) / CAST(CASE lang {_W_CASE} END AS DOUBLE) AS order_key
        FROM documents),
    m AS (SELECT MAX(order_key) AS max_ok FROM staged),
    b AS (
        SELECT doc_id, lang, order_key,
               CAST(LEAST({N_INTERLEAVE_SHARDS - 1},
                          FLOOR(order_key / max_ok
                                * {float(N_INTERLEAVE_SHARDS)})) AS INTEGER)
                   AS shard_id
        FROM staged, m)
    SELECT doc_id, lang, ROUND(order_key, 6) AS order_key, shard_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard_id ORDER BY order_key, lang, doc_id
           ) AS INTEGER) AS shard_pos
    FROM b
"""


def bigram_novelty(docs: DataFrame) -> DataFrame:
    """Count-based language-model novelty scoring per document — the
    exact-arithmetic stand-in for perplexity filtering (KenLM-style): a
    document whose bigrams are corpus-rare is novel/noisy, one whose
    bigrams are all boilerplate-common is duplicative. Both tails get
    cut in a real curation pipeline.

    mean_bg_freq = average corpus occurrence count of the doc's bigrams;
    unique_frac = fraction of its bigram occurrences that are unique in
    the corpus. Integer sums and exact ratios only (no logs — libm ln
    differs across engines; the ORDER of a float log-sum wouldn't be
    reproducible distributed anyway). Plan: one groupBy(bg) for corpus
    counts, an equi-join back on the same key (exchange reuse), one
    groupBy(doc_id) — the standard frequency-annotation shape whose
    shuffles are bounded by |bigram occurrences| and |vocab|.
    """
    bg = docs.select(
        "doc_id", F.explode(word_ngrams(tokens(F.col("text")), 2)).alias("bg")
    )
    freq = bg.groupBy("bg").agg(F.count("*").alias("n_occur"))
    return (
        bg.hint("shuffle_hash")
        .join(freq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum("n_occur").cast("double") / F.count("*"), 6
            ).alias("mean_bg_freq"),
            F.round(
                F.sum(F.when(F.col("n_occur") == 1, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("unique_frac"),
        )
    )


def q_corpus_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: bigram novelty scores over ``documents``."""
    return bigram_novelty(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_CORPUS_BIGRAM_NOVELTY = """
    WITH t AS (
        SELECT doc_id, toks FROM (
            SELECT doc_id, {toks} AS toks FROM documents)),
    bg AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
        FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks), 1))) r(i)),
    freq AS (
        SELECT bg, COUNT(*) AS n_occur FROM bg GROUP BY bg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(n_occur) AS DOUBLE) / COUNT(*), 6) AS mean_bg_freq,
           ROUND(CAST(SUM(CASE WHEN n_occur = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS unique_frac
    FROM bg JOIN freq USING (bg)
    GROUP BY doc_id
"""


TOKEN_BUDGET = 20_000


N_BUDGET_BUCKETS = 32


def token_budget_select(docs: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Select documents best-first until a token budget is exhausted —
    the "we can afford N tokens of training data" cut, taken by quality
    rather than at random.

    Semantics: order by (quality_score desc, doc_id) with a running
    token prefix sum; a doc is kept iff its prefix sum ≤ budget.

    The prefix sum is computed DECOMPOSED, never as one global window:
    quality is value-bucketed into ``N_BUDGET_BUCKETS`` equal slices of the
    [min, max] range (bucket assignment is a pure monotone function of
    the score, so bucket order == global order), per-bucket token totals
    (one partial-aggregated groupBy over ``N_BUDGET_BUCKETS`` rows) give each
    bucket its cumulative OFFSET, and the within-bucket prefix sum runs
    partitioned by bucket. offset + within-bucket sum is EXACTLY the
    global prefix sum — integer arithmetic, no approximation — so the
    sf0.01 oracle keeps the one-window global form as the spec. Buckets
    whose offset already exceeds the budget are pruned BEFORE their
    window runs: at 100 TB the expensive sort only ever touches the
    budget-adjacent prefix of the corpus. The only single-task steps are
    the scalar min/max and the ``N_BUDGET_BUCKETS``-row offset window (bounded
    cardinality, like ts hourly rollup).
    """
    from .text import quality_features

    scored = quality_features(docs).select("doc_id", "n_tokens", "quality_score")
    rng = scored.agg(
        F.min("quality_score").alias("min_q"), F.max("quality_score").alias("max_q")
    )
    bucket = (
        F.when(F.col("max_q") == F.col("min_q"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(N_BUDGET_BUCKETS - 1).cast("long"),
                F.floor(
                    (F.col("max_q") - F.col("quality_score"))
                    / (F.col("max_q") - F.col("min_q"))
                    * F.lit(float(N_BUDGET_BUCKETS))
                ),
            )
        )
        .cast("int")
    )
    staged = scored.crossJoin(F.broadcast(rng)).select(
        "doc_id", "n_tokens", "quality_score", bucket.alias("q_bucket")
    )
    w_off = Window.orderBy("q_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        staged.groupBy("q_bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .select(
            "q_bucket",
            F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias(
                "bucket_offset"
            ),
        )
        # a bucket whose offset alone exceeds the budget can't keep any
        # row (cum_tokens > offset always) — prune before the sort
        .filter(F.col("bucket_offset") <= budget)
    )
    w_in = (
        Window.partitionBy("q_bucket")
        .orderBy(F.desc("quality_score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        staged.join(F.broadcast(offsets), "q_bucket")
        .withColumn(
            "cum_tokens", F.col("bucket_offset") + F.sum("n_tokens").over(w_in)
        )
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "quality_score", "cum_tokens")
    )


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: best-first 20k-token selection of documents."""
    return token_budget_select(spread(load(spark, sf_dir, "documents"), "doc_id"))


def _sql_corpus_token_budget() -> str:
    from .text import SQL_TEXT_QUALITY

    return f"""
    WITH q AS (
        SELECT doc_id, n_tokens, quality_score FROM ({SQL_TEXT_QUALITY})),
    c AS (
        SELECT doc_id, n_tokens, quality_score,
               SUM(n_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM q)
    SELECT doc_id, n_tokens, quality_score, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# epoch schedule: quality band → how many times the doc is seen per run
EPOCH_HIGH_Q = 0.65  # ≥ → 3 epochs
EPOCH_MID_Q = 0.60  # ≥ → 2 epochs; below → 1


def mix_epochs(docs: DataFrame) -> DataFrame:
    """Materialized epoch-repetition schedule: high-quality documents are
    repeated more times per training run (the LLaMA/DoReMi-style "epochs
    per source" recipe, applied per quality band). Each output row is one
    scheduled visit: (doc_id, epoch, n_epochs, n_tokens, order_key) with
    a hash order key so repeats of a document land far apart when the
    loader sorts shards by key.

    Entirely NARROW past the ``spread`` fan-out — quality features are a
    projection, the band is a CASE over fixed thresholds (not corpus
    quantiles, so no distribution pass), the repetition is one
    ``explode(sequence(...))`` with ≤ 3× fanout, and the order key is a
    hash: no aggregation or join shuffle at any corpus size. The bounded
    fanout is the point — epoch scheduling multiplies the corpus, so it
    must stay a map-only plan.
    """
    from .text import quality_features

    scored = quality_features(docs).select("doc_id", "n_tokens", "quality_score")
    n_epochs = (
        F.when(F.col("quality_score") >= EPOCH_HIGH_Q, F.lit(3))
        .when(F.col("quality_score") >= EPOCH_MID_Q, F.lit(2))
        .otherwise(F.lit(1))
    )
    return (
        scored.withColumn("n_epochs", n_epochs)
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            "n_epochs",
            F.explode(F.sequence(F.lit(1), F.col("n_epochs"))).alias("epoch"),
        )
        .withColumn(
            "order_key",
            F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))),
        )
    )


def q_corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: quality-banded epoch repetition schedule."""
    return mix_epochs(spread(load(spark, sf_dir, "documents"), "doc_id"))


def _sql_corpus_mix_epochs() -> str:
    from .text import SQL_TEXT_QUALITY

    return f"""
    WITH q AS (
        SELECT doc_id, n_tokens, quality_score,
               CASE WHEN quality_score >= {EPOCH_HIGH_Q} THEN 3
                    WHEN quality_score >= {EPOCH_MID_Q} THEN 2
                    ELSE 1 END AS n_epochs
        FROM ({SQL_TEXT_QUALITY}))
    SELECT doc_id, n_tokens, quality_score, n_epochs, e.epoch,
           md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
               AS order_key
    FROM q, UNNEST(RANGE(1, n_epochs + 1)) e(epoch)
"""


WMEDIAN_BUCKET = 50  # n_chars per histogram bucket (pass 1)


def exact_weighted_median_twopass(weighted: DataFrame) -> DataFrame:
    """WEIGHTED lower median of ``n_chars`` under ``w`` —
    distributed weighted selection (see q_corpus_weighted_median for the
    corpus semantics and the full scale story). Two passes: bounded
    weighted histogram + driver walk, then a running-weight window over
    ONLY the hit bucket (single-task over ~n/buckets rows, recursing at
    extreme scale). Ties break on (value, id) so the answer is
    engine-exact; empty/zero-weight input yields an empty result.
    """
    hist = (
        weighted.groupBy(
            F.floor(F.col("n_chars") / WMEDIAN_BUCKET).cast("bigint").alias("b")
        )
        .agg(F.sum("w").alias("bw"))
        .orderBy("b")
        .collect()  # bounded: one row per occupied value bucket
    )
    total_w = sum(r["bw"] for r in hist)
    if total_w <= 0:
        # empty/zero-weight input → empty result (oracle shape), not a
        # job failure: a filtered-to-empty corpus slice must compose
        return weighted.sparkSession.createDataFrame(
            [], "total_tokens bigint, weighted_median_len bigint"
        )
    target = (total_w + 1) // 2
    cum = 0
    for r in hist:
        if cum + r["bw"] >= target:
            bucket, rank_in_bucket = r["b"], target - cum
            break
        cum += r["bw"]
    lo, hi = bucket * WMEDIAN_BUCKET, (bucket + 1) * WMEDIAN_BUCKET
    in_bucket = weighted.filter(
        (F.col("n_chars") >= F.lit(lo)) & (F.col("n_chars") < F.lit(hi))
    )
    w_run = (
        Window.orderBy("n_chars", "doc_id")  # single bucket: bounded rows
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hit = (
        in_bucket.withColumn("cw", F.sum("w").over(w_run))
        .filter(F.col("cw") >= rank_in_bucket)
        .orderBy("n_chars", "doc_id")
        .limit(1)
    )
    return hit.select(
        F.lit(total_w).cast("bigint").alias("total_tokens"),
        F.col("n_chars").cast("bigint").alias("weighted_median_len"),
    )


def q_corpus_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted median document length: the length at which half
    the corpus TOKENS sit in shorter-or-equal documents — the length
    distribution as the training stream sees it (long docs dominate by
    tokens; the plain doc-median badly understates what a batch looks
    like). Weighted selection, not aggregation — no built-in covers it.

    Same two-pass shape as ``agg_median_twopass`` generalized to
    weights: pass 1 is a weighted histogram over length buckets (one
    partial-aggregated groupBy; the collect is value-range/width rows),
    the driver walks cumulative token weights to the target ⌈W/2⌉ rank,
    pass 2 re-reads ONLY the hit bucket (range predicate pushed to the
    scan) and resolves the in-bucket weighted rank with a running-sum
    window over the bucket's rows.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    weighted = docs.select(
        "doc_id",
        "n_chars",
        F.size(tokens(F.col("text"))).cast("long").alias("w"),
    )
    return exact_weighted_median_twopass(weighted)


SQL_CORPUS_WEIGHTED_MEDIAN = f"""
    WITH weighted AS (
        SELECT doc_id, n_chars,
               CAST(LEN({SQL_TOKENS.format(col='text')}) AS BIGINT) AS w
        FROM documents),
    ranked AS (
        SELECT n_chars, w,
               SUM(w) OVER (ORDER BY n_chars, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               SUM(w) OVER () AS total_w
        FROM weighted)
    SELECT CAST(total_w AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS weighted_median_len
    FROM ranked
    WHERE cw >= (total_w + 1) // 2
    GROUP BY total_w
"""


def q_corpus_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-balance report for the shuffle/shard/split assignment: per
    (split, shard) document counts plus each shard's share WITHIN its
    split — the check that the order-hash actually spreads documents
    evenly (a skewed shard is a straggler file at training time, and a
    drifting split share means the hash bounds are wrong). One bounded
    aggregation over shuffle_split's output; the share window runs on
    |splits|×|shards| rows.
    """
    assigned = shuffle_split(load(spark, sf_dir, "documents"))
    cells = assigned.groupBy("split", "shard").agg(F.count("*").alias("n_docs"))
    wsplit = Window.partitionBy("split")
    return cells.select(
        "split",
        "shard",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(wsplit).cast("double"),
            6,
        ).alias("share_in_split"),
    )


SQL_CORPUS_SHARD_SKEW = f"""
    WITH assigned AS ({SQL_CORPUS_SHUFFLE_SPLIT}),
    cells AS (
        SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM assigned GROUP BY split, shard)
    SELECT split, shard, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / CAST(SUM(n_docs) OVER (PARTITION BY split) AS DOUBLE), 6)
               AS share_in_split
    FROM cells
"""


def q_corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs that STRADDLE the
    train/val/test boundary — the eval-contamination mode a plain
    benchmark decontamination misses (a val doc whose near-twin sits in
    train inflates every metric). Reports, per unordered split pair,
    the straddling near-dup count and its share of all near-dup pairs.

    Composes two oracle-checked operators: the MinHash-LSH verified
    pair set and the deterministic hash split — two broadcast-sized
    joins of the pair relation against the assignment, then a bounded
    (≤6-row) rollup with exact shares. The fix for what it finds is
    llm_dedup_keep_best BEFORE splitting; this query is the check that
    the pipeline actually did that.
    """
    from .dedup import verified_pairs

    pairs = verified_pairs(spark, sf_dir).select("d1", "d2")
    assign = shuffle_split(load(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )
    tagged = (
        pairs.join(
            assign.select(F.col("doc_id").alias("d1"), F.col("split").alias("s1")),
            "d1",
        )
        .join(
            assign.select(F.col("doc_id").alias("d2"), F.col("split").alias("s2")),
            "d2",
        )
        .select(
            F.least("s1", "s2").alias("split_a"),
            F.greatest("s1", "s2").alias("split_b"),
        )
    )
    total = tagged.agg(F.count("*").alias("n_pairs_total"))
    return (
        tagged.groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .crossJoin(F.broadcast(total))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
            F.round(
                F.col("n_pairs").cast("double")
                / F.col("n_pairs_total").cast("double"),
                6,
            ).alias("share"),
        )
    )


def _split_leakage_sql() -> str:
    from .dedup import SQL_DEDUP_MINHASH

    return f"""
    WITH pairs AS ({SQL_DEDUP_MINHASH}),
    assign AS ({SQL_CORPUS_SHUFFLE_SPLIT}),
    tagged AS (
        SELECT LEAST(a1.split, a2.split) AS split_a,
               GREATEST(a1.split, a2.split) AS split_b
        FROM pairs p
        JOIN assign a1 ON p.d1 = a1.doc_id
        JOIN assign a2 ON p.d2 = a2.doc_id),
    total AS (SELECT COUNT(*) AS n_pairs_total FROM tagged)
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leakage,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_pairs_total AS DOUBLE), 6)
               AS share
    FROM tagged CROSS JOIN total
    GROUP BY split_a, split_b, n_pairs_total
"""


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

WSAMPLE_K = 25  # docs kept per source


def weighted_sample_per_group(df: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group —
    the Efraimidis-Spirakis A-ES scheme: each row draws a reproducible
    uniform u from the portable hash and the k rows with the largest
    key u^(1/w) are an exact weight-proportional sample. Keys are
    compared as ln(u)/w (monotone transform, one double tree both
    engines evaluate bit-identically), so heavier documents win
    proportionally more often while any single run stays rerun-identical
    on any cluster size — the quality-weighted subsampling step of a
    curation pipeline ("keep 25 docs per source, favor longer ones")
    with no RNG state and no driver pass.

    Scale shape: one narrow projection (hash + one ln per row), one
    rank-k window per group. Spark's WindowGroupLimit rewrite turns the
    row_number ≤ k filter into per-partition partial top-k BEFORE the
    exchange, so the shuffle carries at most k·partitions rows per
    group, not the corpus — the two-phase distributed top-k for free
    (plan-pinned in tests/test_plans.py). Weights are clamped to ≥1:
    weight 0 would make the key -inf but still sampleable; the clamp
    keeps the total order clean.
    """
    u = (
        _portable_hash(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")))
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_HASH_SPACE))
    w = F.greatest(F.lit(1), F.col("n_chars")).cast("double")
    key = F.log(u) / w
    staged = df.select(
        "source", "doc_id", F.col("n_chars").alias("weight"), key.alias("k")
    )
    win = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        staged.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
        .select(
            "source",
            "doc_id",
            "weight",
            "sample_rank",
            F.round("k", 9).alias("sample_key"),
        )
    )


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 25 docs per source, weight ∝ n_chars."""
    # catalog-style load: the sample key is (doc_id, source, n_chars)
    # metadata; no spread — three narrow columns need no compute fanout
    return weighted_sample_per_group(
        load_meta(spark, sf_dir, "documents", "source", "n_chars")
    )


SQL_CORPUS_WEIGHTED_SAMPLE = f"""
    WITH staged AS (
        SELECT source, doc_id, n_chars AS weight,
               LN((CAST(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT AS DOUBLE) + 1.0)
                  / {float(1 << 60)!r})
               / CAST(GREATEST(1, n_chars) AS DOUBLE) AS k
        FROM documents),
    ranked AS (
        SELECT source, doc_id, weight, k,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY k DESC, doc_id)
                    AS INTEGER) AS sample_rank
        FROM staged)
    SELECT source, doc_id, weight, sample_rank, ROUND(k, 9) AS sample_key
    FROM ranked WHERE sample_rank <= {WSAMPLE_K}
"""


# ---------------------------------------------------------------------------
# distribution drift between corpus snapshots (PSI)
# ---------------------------------------------------------------------------

DRIFT_VOCAB_K = 200  # tokens compared: top-K by combined count
_DRIFT_SALT = "drift|"  # independent hash stream from split/shuffle/sample


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots via the
    Population Stability Index — the "did the new crawl/filter shift
    what the model will read?" check a curation team runs before
    swapping a data source: PSI_t = (p_t − q_t)·ln(p_t/q_t) per token,
    large contributors are the drifted vocabulary. With no second
    snapshot in the fixtures, the two sides are a deterministic
    hash-half split of ``documents`` (independent salt, so they're two
    iid samples — the null distribution; a real deployment points the
    two sides at two snapshot paths and keeps everything downstream).

    Scale shape: the corpus collapses once to per-(token) conditional
    counts (one partial-agg shuffle; the split flag is a pure hash of
    doc_id so both "snapshots" are counted in the same pass). Vocab
    selection is TakeOrdered top-K; probabilities and PSI terms close
    on K rows. Add-one smoothing keeps ln finite when a token lives in
    only one snapshot; dec9 rounding makes every term hash-exact.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    half = _portable_hash(
        F.concat(F.lit(_DRIFT_SALT), F.col("doc_id").cast("string"))
    ) < int(0.5 * _HASH_SPACE)
    tok = docs.select(
        half.alias("is_base"), F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1)).alias("n_new"),
    )
    top = counts.orderBy(
        (F.col("n_base") + F.col("n_new")).desc(), F.col("token")
    ).limit(DRIFT_VOCAB_K)
    stats = top.agg(
        F.sum("n_base").alias("tb"),
        F.sum("n_new").alias("tn"),
        F.count("*").alias("v"),
    )
    p = (F.col("n_base").cast("double") + F.lit(1.0)) / (
        F.col("tb").cast("double") + F.col("v").cast("double")
    )
    q = (F.col("n_new").cast("double") + F.lit(1.0)) / (
        F.col("tn").cast("double") + F.col("v").cast("double")
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "token",
        "n_base",
        "n_new",
        F.round(p, 9).alias("p_base"),
        F.round(q, 9).alias("p_new"),
        F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
    )


SQL_CORPUS_DRIFT_PSI = """
    WITH tok AS (
        SELECT ('0x' || substr(md5('drift|' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT < {half} AS is_base,
               UNNEST({toks}) AS token
        FROM documents),
    counts AS (
        SELECT token,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_new
        FROM tok GROUP BY token),
    top AS (
        SELECT * FROM counts
        ORDER BY (n_base + n_new) DESC, token LIMIT {k}),
    stats AS (
        SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_new) AS BIGINT) AS tn,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM top)
    SELECT token, n_base, n_new,
           ROUND((CAST(n_base AS DOUBLE) + 1.0)
                 / (CAST(tb AS DOUBLE) + CAST(v AS DOUBLE)), 9) AS p_base,
           ROUND((CAST(n_new AS DOUBLE) + 1.0)
                 / (CAST(tn AS DOUBLE) + CAST(v AS DOUBLE)), 9) AS p_new,
           ROUND(((CAST(n_base AS DOUBLE) + 1.0)
                      / (CAST(tb AS DOUBLE) + CAST(v AS DOUBLE))
                  - (CAST(n_new AS DOUBLE) + 1.0)
                      / (CAST(tn AS DOUBLE) + CAST(v AS DOUBLE)))
                 * LN(((CAST(n_base AS DOUBLE) + 1.0)
                           / (CAST(tb AS DOUBLE) + CAST(v AS DOUBLE)))
                      / ((CAST(n_new AS DOUBLE) + 1.0)
                             / (CAST(tn AS DOUBLE) + CAST(v AS DOUBLE)))), 9)
               AS psi_term
    FROM top CROSS JOIN stats
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64


def q_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of a hashed-n-gram bag-of-features model
    trained on the TARGET distribution (here: the ``lang='en'`` slice)
    vs the RAW corpus, add-one smoothed over B=64 hash buckets. Positive
    importance = looks more like the target than the background; the
    resampling step then keeps docs proportional to exp(weight). This is
    the standard cheap proxy for "select pretraining data that matches a
    target domain" — two orders cheaper than a neural classifier.

    Plan: one token explode with the bucket assignment fused into the
    scan projection (portable 60-bit md5 hash % B — identical in
    DuckDB), ONE groupBy (doc_id, bucket) for per-doc features, then the
    two feature tables are 64-row aggregates of that relation — the
    corpus-sized relation is shuffled once on doc_id-bucket and every
    subsequent join is against a broadcast-sized (<= B rows) build side.
    Exactness: bucket counts are exact ints, each log-ratio term uses an
    identical IEEE expression tree on both engines, and the per-doc sum
    quantizes tf-weighted terms via dec9 (order-free decimal sum). At
    100 TB: identical shape — feature tables stay B rows no matter the
    corpus, so only the single initial shuffle scales.
    """
    from ..functions.exact import dec9

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .select(
            "doc_id",
            "lang",
            (
                _portable_hash(F.concat(F.lit("dsir:"), F.col("token")))
                % DSIR_BUCKETS
            ).alias("b"),
        )
    )
    doc_feat = toks.groupBy("doc_id", "lang", "b").agg(
        F.count("*").alias("tf")
    )
    raw = doc_feat.groupBy("b").agg(F.sum("tf").alias("cnt_r"))
    tgt = (
        doc_feat.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.sum("tf").alias("cnt_t"))
    )
    feat = raw.join(tgt, "b", "left").select(
        "b", "cnt_r", F.coalesce("cnt_t", F.lit(0)).alias("cnt_t")
    )
    totals = feat.agg(
        F.sum("cnt_r").alias("tot_r"), F.sum("cnt_t").alias("tot_t")
    )
    lr = F.log(
        (F.col("cnt_t").cast("double") + F.lit(1.0))
        / (F.col("tot_t").cast("double") + F.lit(float(DSIR_BUCKETS)))
    ) - F.log(
        (F.col("cnt_r").cast("double") + F.lit(1.0))
        / (F.col("tot_r").cast("double") + F.lit(float(DSIR_BUCKETS)))
    )
    scored = feat.crossJoin(F.broadcast(totals)).select("b", lr.alias("lr"))
    term = dec9(F.col("tf").cast("double") * F.col("lr"))
    per_doc = (
        doc_feat.join(F.broadcast(scored), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum("tf").alias("n_tokens"), F.sum(term).alias("s"))
    )
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("s").cast("double"), 6).alias("importance"),
    )


SQL_CORPUS_DSIR = """
    WITH tok AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('dsir:' || token), 1, 15))::BIGINT % {nb} AS b
        FROM (SELECT doc_id, lang, UNNEST({toks}) AS token FROM documents)),
    doc_feat AS (
        SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, lang, b),
    raw AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS cnt_r FROM doc_feat GROUP BY b),
    tgt AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS cnt_t
            FROM doc_feat WHERE lang = 'en' GROUP BY b),
    feat AS (
        SELECT b, cnt_r, COALESCE(cnt_t, 0) AS cnt_t
        FROM raw LEFT JOIN tgt USING (b)),
    totals AS (
        SELECT CAST(SUM(cnt_r) AS BIGINT) AS tot_r,
               CAST(SUM(cnt_t) AS BIGINT) AS tot_t FROM feat),
    scored AS (
        SELECT b,
               LN((CAST(cnt_t AS DOUBLE) + 1.0)
                  / (CAST(tot_t AS DOUBLE) + {nb}.0))
               - LN((CAST(cnt_r AS DOUBLE) + 1.0)
                    / (CAST(tot_r AS DOUBLE) + {nb}.0)) AS lr
        FROM feat CROSS JOIN totals),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               SUM(CAST(ROUND(CAST(tf AS DOUBLE) * lr, 9) AS DECIMAL(28,9))) AS s
        FROM doc_feat JOIN scored USING (b)
        GROUP BY doc_id, lang)
    SELECT doc_id, lang, n_tokens,
           ROUND(CAST(s AS DOUBLE), 6) AS importance
    FROM per_doc
"""


# ---------------------------------------------------------------------------
# domain/URL-level curation (RefinedWeb/C4-class pre-text filtering)
# ---------------------------------------------------------------------------

# RefinedWeb (Penedo 2023) and C4 both gate on the REGISTERED DOMAIN
# before any text analysis: a blocklist drops whole domains, and a
# per-domain document cap stops any single site from dominating the
# corpus. The driver corpus has no URL column, so the URL is
# synthesized deterministically from stable metadata (the scalar_url
# recipe, plus a doc-derived subdomain so registered-domain extraction
# actually strips something); everything downstream — suffix-based
# domain extraction, broadcast blocklist, per-domain cap via the
# zero-shuffle hash threshold — is the real operator shape.
URL_SUBDOMAINS = ("www", "cdn", "api")
URL_BLOCKLIST = ("src3.example.com", "src17.example.com")
DOMAIN_CAP = 18  # max docs kept per registered domain

# the engine's public-suffix knowledge, stubbed to the one suffix the
# synthesized URLs use (a production deployment broadcasts the real
# PSL — vocabulary-sized, same plan shape): registrable domain = one
# label + the suffix.
_DOMAIN_RE = r"([^.]+\.example\.com)$"
_HOST_RE = r"^[a-z]+://([^/?]+)"


def doc_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url) with url synthesized from stable metadata:
    ``https://{www|cdn|api}.{source}.example.com/docs/{doc_id}?lang=``.
    Narrow projection — fuses into the scan."""
    sub = F.element_at(
        F.array(*[F.lit(s) for s in URL_SUBDOMAINS]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"),
        sub,
        F.lit("."),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return docs.select("doc_id", url.alias("url"))


def url_filter(docs: DataFrame) -> DataFrame:
    """Domain-level curation verdicts, one row per document: the
    synthesized URL, its registered domain, the blocklist verdict, the
    domain's doc count and cap keep-rate, and whether the doc survives.

    Scale shape: domain extraction is two anchored regexes in the scan
    projection (no UDF); the per-domain rollup is vocabulary-sized
    (registered domains, not URLs) and broadcasts back; the cap is the
    ``llm_target_mix`` zero-shuffle hash threshold — keep iff
    portable_hash(doc_id) < floor(min(1, DOMAIN_CAP/n)·2^60) — so capping a
    100 TB crawl is a metadata scan plus one broadcast join, with no
    per-domain window (a row_number() cap would shuffle the corpus on
    domain and die on the one mega-domain every crawl has; the hash
    rate keeps EXPECTED survivors at the cap and is what RefinedWeb's
    own pipeline does at the stage boundary). Blocklist and suffix
    list are both broadcast-sized relations/literals by construction.
    """
    urls = doc_urls(docs)
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    staged = urls.select(
        "doc_id",
        "url",
        F.regexp_extract(host, _DOMAIN_RE, 1).alias("domain"),
    )
    rates = (
        staged.groupBy("domain")
        .agg(F.count("*").alias("n_domain_docs"))
        .select(
            "domain",
            "n_domain_docs",
            F.col("domain").isin(*URL_BLOCKLIST).alias("blocked"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(DOMAIN_CAP)) / F.col("n_domain_docs").cast("double"),
                ),
                6,
            ).alias("keep_rate"),
        )
    )
    joined = staged.join(F.broadcast(rates), "domain")
    kept = (
        ~F.col("blocked")
    ) & (
        _portable_hash(F.col("doc_id"))
        < F.floor(F.col("keep_rate") * F.lit(_HASH_SPACE))
    )
    return joined.select(
        "doc_id", "url", "domain", "blocked",
        "n_domain_docs", "keep_rate", kept.alias("kept"),
    )


def q_corpus_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-document domain-curation verdicts over the
    documents catalog (metadata-only scan — text is never read)."""
    return url_filter(load_meta(spark, sf_dir, "documents", "lang", "source"))


def q_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain rollup of :func:`url_filter`: doc count, corpus
    share, blocklist verdict, cap keep-rate, and how many docs actually
    survive the hash threshold — the table a curation run reviews
    before committing a blocklist/cap change. Domain-sized output; the
    survivor count aggregates the same verdict column the per-doc query
    emits, so the two views can never disagree."""
    verdicts = q_corpus_url_filter(spark, sf_dir)
    per = verdicts.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.max("blocked").alias("blocked"),
        F.min("keep_rate").alias("keep_rate"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    )
    total = per.agg(F.sum("n_docs").alias("n_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("share"),
        "blocked",
        "keep_rate",
        "n_kept",
    )


def q_corpus_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test assignment — the FIX for what
    ``corpus_split_leakage`` measures: hash the split key on the
    near-dup CLUSTER id (min-doc label from the verified pair graph)
    instead of the doc id, so every member of a near-dup cluster lands
    in the SAME split by construction and no pair can straddle a
    boundary. Singletons hash on their own id (coalesce), so the split
    shares stay within cluster-size noise of the unsafe assignment.

    This is the alternative standard fix to dedup-before-split
    (``llm_dedup_keep_best``): keep the duplicates — sometimes wanted
    for training-mix reasons — but quarantine each cluster whole.
    Composes the session-cached component labels (corpus-scale work
    already paid by the dedup stage) with the same salted portable-hash
    split rule ``corpus_shuffle_split`` uses; the label join is the one
    extra cost, keyed on doc_id. The zero-straddling property is
    asserted on the real corpus in tests (not just claimed).
    """
    from .dedup import cluster_labels

    labels = cluster_labels(spark, sf_dir)
    docs = load_meta(spark, sf_dir, "documents")
    keyed = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("skey"),
    )
    split_hash = _portable_hash(F.concat(F.lit("split:"), F.col("skey")))
    lo = F.floor(F.lit(SPLIT_BOUNDS[0]) * _HASH_SPACE)
    hi = F.floor(F.lit(SPLIT_BOUNDS[1]) * _HASH_SPACE)
    split = (
        F.when(split_hash < lo, "train")
        .when(split_hash < hi, "val")
        .otherwise("test")
    )
    return keyed.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id").isNotNull()).alias("clustered"),
        split.alias("split"),
    )


_MD5_KEY = "('0x' || substr(md5('{salt}' || CAST(skey AS VARCHAR)), 1, 15))::BIGINT"


def _split_cluster_safe_sql() -> str:
    from .dedup import SQL_DEDUP_CLUSTERS

    h = _MD5_KEY.format(salt="split:")
    return f"""
    WITH clusters AS ({SQL_DEDUP_CLUSTERS}),
    keyed AS (
        SELECT d.doc_id, c.cluster_id,
               COALESCE(c.cluster_id, d.doc_id) AS skey
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
    SELECT doc_id, cluster_id,
           cluster_id IS NOT NULL AS clustered,
           CASE WHEN {h}
                     < CAST(FLOOR({SPLIT_BOUNDS[0]} * {_HASH_SPACE}) AS BIGINT)
                THEN 'train'
                WHEN {h}
                     < CAST(FLOOR({SPLIT_BOUNDS[1]} * {_HASH_SPACE}) AS BIGINT)
                THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
"""


def doc_urls_messy(docs: DataFrame) -> DataFrame:
    """(doc_id, url) with DETERMINISTICALLY MESSY urls — the crawl-
    frontier reality canonicalization exists for: scheme flips
    http/https by doc_id parity, the subdomain cases vary, a trailing
    slash appears on every 5th doc, and the two query params swap
    order by parity. Page id is doc_id % 13, so distinct docs genuinely
    collide onto one canonical page (the mirror-crawl scenario)."""
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(
        F.lit("http")
    )
    sub = F.element_at(
        F.array(F.lit("www"), F.lit("WWW"), F.lit("Www")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    p1 = F.concat(F.lit("lang="), F.col("lang"))
    p2 = F.lit("v=1")
    query = F.when(
        F.col("doc_id") % 2 == 0, F.concat(p1, F.lit("&"), p2)
    ).otherwise(F.concat(p2, F.lit("&"), p1))
    url = F.concat(
        scheme,
        F.lit("://"),
        sub,
        F.lit("."),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.pmod(F.col("doc_id"), F.lit(13)),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        query,
    )
    return docs.select("doc_id", url.alias("url"))


_URL_PARSE_RE = r"^([a-zA-Z]+)://([^/?]+)([^?]*)\?(.*)$"


def url_canonicalize(urls: DataFrame) -> DataFrame:
    """Canonical form + exact URL-level dedup verdicts, one row per doc:
    normalize scheme to https, lowercase the host, strip the trailing
    slash, sort the query params — then group by the canonical string
    (the crawl-frontier dedup C4/RefinedWeb-class pipelines run BEFORE
    fetching, and the first dedup layer of a mirror-heavy crawl).

    Scale shape: canonicalization is four anchored regex/string
    builtins in the scan projection (no UDF); the group stats ride ONE
    hash exchange on the canonical string (window functions over the
    canonical partition — the dedup_exact single-exchange shape, no
    groupBy+join-back). At 100 TB this is the URL-keyed shuffle every
    frontier dedup pays exactly once.
    """
    host = F.regexp_extract(F.col("url"), _URL_PARSE_RE, 2)
    path = F.regexp_extract(F.col("url"), _URL_PARSE_RE, 3)
    qs = F.regexp_extract(F.col("url"), _URL_PARSE_RE, 4)
    canon = F.concat(
        F.lit("https://"),
        F.lower(host),
        F.regexp_replace(path, "/$", ""),
        F.lit("?"),
        F.array_join(F.sort_array(F.split(qs, "&")), "&"),
    )
    staged = urls.select("doc_id", "url", canon.alias("canonical_url"))
    w = Window.partitionBy("canonical_url")
    return staged.select(
        "doc_id",
        "url",
        "canonical_url",
        F.count("*").over(w).alias("group_size"),
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
        F.size(F.collect_set("url").over(w)).cast("int").alias("n_variants"),
    )


def q_corpus_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: canonicalize + URL-dedup the messy synthesized
    frontier over the documents catalog (metadata-only scan)."""
    return url_canonicalize(
        doc_urls_messy(load_meta(spark, sf_dir, "documents", "lang", "source"))
    )


SQL_CORPUS_URL_CANONICAL = f"""
    WITH urls AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
               || '://'
               || (['www', 'WWW', 'Www'])[(doc_id % 3) + 1]
               || '.' || source || '.example.com/docs/'
               || CAST(doc_id % 13 AS VARCHAR)
               || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
               || '?'
               || (CASE WHEN doc_id % 2 = 0
                        THEN 'lang=' || lang || '&v=1'
                        ELSE 'v=1&lang=' || lang END) AS url
        FROM documents WHERE doc_id IS NOT NULL),
    staged AS (
        SELECT doc_id, url,
               'https://'
               || lower(regexp_extract(url,
                      '^([a-zA-Z]+)://([^/?]+)([^?]*)\\?(.*)$', 2))
               || regexp_replace(regexp_extract(url,
                      '^([a-zA-Z]+)://([^/?]+)([^?]*)\\?(.*)$', 3), '/$', '')
               || '?'
               || array_to_string(list_sort(string_split(
                      regexp_extract(url,
                          '^([a-zA-Z]+)://([^/?]+)([^?]*)\\?(.*)$', 4),
                      '&')), '&') AS canonical_url
        FROM urls)
    SELECT doc_id, url, canonical_url,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
               AS group_size,
           MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_dup,
           CAST(COUNT(DISTINCT url) OVER (PARTITION BY canonical_url)
                AS INTEGER) AS n_variants
    FROM staged
"""


_URL_SQL_CTE = f"""
    urls AS (
        SELECT doc_id,
               'https://' || (['www', 'cdn', 'api'])[(doc_id % 3) + 1]
                   || '.' || source || '.example.com/docs/'
                   || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
        FROM documents WHERE doc_id IS NOT NULL),
    staged AS (
        SELECT doc_id, url,
               regexp_extract(
                   regexp_extract(url, '^([a-z]+)://([^/?]+)', 2),
                   '([^.]+\\.example\\.com)$', 1) AS domain
        FROM urls),
    rates AS (
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_domain_docs,
               domain IN {tuple(URL_BLOCKLIST)!r} AS blocked,
               ROUND(LEAST(1.0, CAST({DOMAIN_CAP} AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE)), 6) AS keep_rate
        FROM staged GROUP BY domain),
    verdicts AS (
        SELECT s.doc_id, s.url, s.domain, r.blocked, r.n_domain_docs,
               r.keep_rate,
               (NOT r.blocked) AND
               ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   < CAST(FLOOR(r.keep_rate * {{hs}}) AS BIGINT) AS kept
        FROM staged s JOIN rates r USING (domain))
"""

SQL_CORPUS_URL_FILTER = f"""
    WITH {_URL_SQL_CTE}
    SELECT doc_id, url, domain, blocked, n_domain_docs, keep_rate, kept
    FROM verdicts
"""

SQL_CORPUS_DOMAIN_MIX = f"""
    WITH {_URL_SQL_CTE},
    per AS (
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MAX(blocked) AS blocked,
               MIN(keep_rate) AS keep_rate,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM verdicts GROUP BY domain)
    SELECT domain, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / CAST((SELECT SUM(n_docs) FROM per) AS DOUBLE), 6) AS share,
           blocked, keep_rate, n_kept
    FROM per
"""


# ---------------------------------------------------------------------------
# snapshot diff: crawl N−1 vs crawl N churn report
# ---------------------------------------------------------------------------

SNAP_RM_FRAC = 0.12  # docs present only in the OLD snapshot (dropped pages)
SNAP_ADD_FRAC = 0.12  # docs present only in the NEW snapshot (new pages)
SNAP_CHG_FRAC = 0.25  # of docs in both: content changed between crawls


def _snapshot_staged(docs: DataFrame) -> DataFrame:
    """The deterministic two-snapshot synthesis shared by
    ``corpus_snapshot_diff`` and ``corpus_refresh_pipeline``: three
    independent portable-hash draws on doc_id mark removed / added /
    changed docs (removal wins over addition, so the states are
    disjoint). A real deployment replaces this with two crawl paths
    and keeps everything downstream."""

    def draw(salt: str, frac: float) -> F.Column:
        return _portable_hash(
            F.concat(F.lit(salt), F.col("doc_id").cast("string"))
        ) < int(frac * _HASH_SPACE)

    return docs.select(
        "doc_id",
        "source",
        "text",
        draw("snaprm|", SNAP_RM_FRAC).alias("is_rm"),
        draw("snapadd|", SNAP_ADD_FRAC).alias("is_add_raw"),
        draw("snapchg|", SNAP_CHG_FRAC).alias("is_chg"),
    ).select(
        "doc_id",
        "source",
        "text",
        "is_rm",
        (F.col("is_add_raw") & ~F.col("is_rm")).alias("is_add"),
        "is_chg",
    )


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl churn report: what changed between crawl N−1
    and crawl N, per source — the first question a curation loop asks
    before re-running dedup/decon on a refreshed corpus (VERDICT r12
    item 6; ``corpus_drift_psi`` answers the distribution-shift half,
    this answers the document-identity half).

    With one documents fixture, the two snapshots are synthesized
    deterministically (the ``dedup_incremental`` convention): three
    independent portable-hash draws on doc_id mark removed docs (old
    snapshot only), added docs (new only — removal wins when both
    draws fire, so the states are disjoint), and, among docs present
    in both, content changes (the new snapshot's text gains a revision
    suffix). A real deployment points the two sides at two crawl
    paths and keeps everything downstream of the fingerprints.

    Shape: content fingerprint = md5(text) computed in each snapshot's
    scan projection; ONE full-outer join co-partitioned on doc_id
    classifies every doc added / removed / changed / unchanged; the
    churn report is a bounded per-source rollup. At 100 TB both
    snapshots are bucketed on doc_id (the crawl's natural layout), so
    the join is co-located and shuffle-free; nothing else touches the
    corpus. churn_rate = (added + removed + changed) / old-snapshot
    size — the fraction of last crawl's corpus a refresh invalidates."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = _snapshot_staged(docs)
    old = staged.filter(~F.col("is_add")).select(
        "doc_id", "source", F.md5("text").alias("fp_old")
    )
    new = staged.filter(~F.col("is_rm")).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("is_chg"), F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("fp_new"),
    )
    joined = old.withColumnRenamed("source", "src_old").join(
        new.withColumnRenamed("source", "src_new"), "doc_id", "full_outer"
    )
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    per_doc = joined.select(
        F.coalesce("src_old", "src_new").alias("source"),
        status.alias("status"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.when(F.col("status") != "added", 1)).alias("n_old"),
        F.count(F.when(F.col("status") != "removed", 1)).alias("n_new"),
        F.count(F.when(F.col("status") == "added", 1)).alias("n_added"),
        F.count(F.when(F.col("status") == "removed", 1)).alias("n_removed"),
        F.count(F.when(F.col("status") == "changed", 1)).alias("n_changed"),
        F.count(F.when(F.col("status") == "unchanged", 1)).alias(
            "n_unchanged"
        ),
    )
    churn = (
        F.col("n_added") + F.col("n_removed") + F.col("n_changed")
    ).cast("double") / F.when(F.col("n_old") > 0, F.col("n_old")).cast(
        "double"
    )
    return agg.select(
        "source",
        "n_old",
        "n_new",
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        F.round(churn, 6).alias("churn_rate"),
    )


def _snapshot_diff_sql() -> str:
    h = "('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    rm = h.format(salt="snaprm|") + f" < {int(SNAP_RM_FRAC * _HASH_SPACE)}"
    add = h.format(salt="snapadd|") + f" < {int(SNAP_ADD_FRAC * _HASH_SPACE)}"
    chg = h.format(salt="snapchg|") + f" < {int(SNAP_CHG_FRAC * _HASH_SPACE)}"
    return f"""
    WITH staged AS (
        SELECT doc_id, source, text,
               {rm} AS is_rm,
               ({add}) AND NOT ({rm}) AS is_add,
               {chg} AS is_chg
        FROM documents),
    snap_old AS (
        SELECT doc_id, source, md5(text) AS fp_old
        FROM staged WHERE NOT is_add),
    snap_new AS (
        SELECT doc_id, source,
               md5(CASE WHEN is_chg THEN text || ' [rev2]' ELSE text END)
                   AS fp_new
        FROM staged WHERE NOT is_rm),
    per_doc AS (
        SELECT COALESCE(snap_old.source, snap_new.source) AS source,
               CASE WHEN fp_old IS NULL THEN 'added'
                    WHEN fp_new IS NULL THEN 'removed'
                    WHEN fp_old <> fp_new THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM snap_old FULL OUTER JOIN snap_new USING (doc_id))
    SELECT source,
           CAST(COUNT(CASE WHEN status <> 'added' THEN 1 END) AS BIGINT)
               AS n_old,
           CAST(COUNT(CASE WHEN status <> 'removed' THEN 1 END) AS BIGINT)
               AS n_new,
           CAST(COUNT(CASE WHEN status = 'added' THEN 1 END) AS BIGINT)
               AS n_added,
           CAST(COUNT(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT)
               AS n_removed,
           CAST(COUNT(CASE WHEN status = 'changed' THEN 1 END) AS BIGINT)
               AS n_changed,
           CAST(COUNT(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT)
               AS n_unchanged,
           ROUND(CAST(COUNT(CASE WHEN status IN ('added', 'removed',
                                                 'changed')
                            THEN 1 END) AS DOUBLE)
                 / CAST(CASE WHEN COUNT(CASE WHEN status <> 'added'
                                        THEN 1 END) > 0
                             THEN COUNT(CASE WHEN status <> 'added'
                                        THEN 1 END) END AS DOUBLE), 6)
               AS churn_rate
    FROM per_doc
    GROUP BY source
"""


# ---------------------------------------------------------------------------
# crawl-refresh pipeline: delta-only re-curation (VERDICT r13 item 4)
# ---------------------------------------------------------------------------


def q_corpus_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED crawl-refresh pipeline — the production reason
    ``corpus_snapshot_diff`` exists: when crawl N lands, route ONLY the
    added/changed docs (the delta) through the curation gates — quality
    (the Gopher rule set), BOTH of ``dedup_incremental``'s asymmetric
    dedup layers against the standing corpus (EXACT: canonical
    shingle-set fingerprints of the delta joined against the UNCHANGED
    base's fingerprint index; NEAR: the delta's banded MinHash joined
    against the base's bands only, exact-Jaccard verify at 0.8 — so
    candidate volume scales with |delta| x collision rate, never
    |corpus|²), and benchmark n-gram decontamination (the
    ``llm_decontaminate`` broadcast gate) — and emit the per-source
    accounting of the refreshed keep-list: how many docs were
    re-processed, what each gate rejected, and the incrementality win
    (``reprocessed_frac`` = delta / new-snapshot size — the fraction of
    the corpus the refresh actually had to score).

    Keep-list semantics: the previous run's keep-list is maintained
    state (ids only); the update is pure set algebra — drop removed/
    changed ids, add the delta docs that survive all three gates — so
    UNCHANGED docs are never re-scored: every gate input is the
    delta relation (checkpointed once, delta-sized), and the only
    corpus-sized relations are (a) the new-snapshot per-source counts
    (metadata rollup) and (b) the unchanged docs' fingerprint index,
    which at 100 TB is the maintained on-disk index of the
    ``dedup_incremental`` story (written at ingest, ~40 bytes/doc) —
    recomputed here only because the sandbox has no persistent state.
    The benchmark universe follows ``llm_decontaminate``:
    doc_id % BENCH_MOD == 0 docs play the held-out benchmark (their
    grams broadcast — a bounded deployment artifact), and the crawl
    universe is the complement. Gate order is sequential — quality
    first (cheap narrow rules), fingerprints and gram probes only for
    quality survivors — and the reject reasons are mutually exclusive
    by CASE priority (quality_fail > duplicate_exact > duplicate_near
    > contaminated).

    Cites the reference's end-to-end transform-then-verify pipeline
    shape (UserProfileTransform.java:23-86 filter→derive chain +
    verifier_ui.py:101-138 accounting): the same compose-gates-and-
    account pattern, lifted to corpus refresh."""
    from ..functions.barrier import filter_above
    from .dedup import (
        JACCARD_THRESHOLD,
        band_candidates,
        minhash_band_rows,
        overlap_jaccard,
        pair_overlap,
        shingle_sets_of,
    )
    from .llmdata import BENCH_MOD, DECON_N
    from .text import gopher_report

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = _snapshot_staged(docs.filter(F.col("doc_id") % BENCH_MOD != 0))
    newsnap = staged.filter(~F.col("is_rm")).select(
        "doc_id",
        "source",
        F.when(
            F.col("is_chg"), F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("is_add") | F.col("is_chg")).alias("is_delta"),
    )
    # the delta is the ONLY relation any gate scores — checkpointed
    # once (delta-sized; at sf0.01 ~a third of the corpus by the
    # synthesis fractions, in production the crawl churn)
    delta = (
        newsnap.filter("is_delta")
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=True)
    )
    quality = gopher_report(delta).select("doc_id", "keep")
    qpass = delta.join(quality, "doc_id").filter("keep")
    # both dedup layers consume the shingle-set relations 2-3 times
    # (fingerprint, signatures, verify side) — stage each once; at
    # 100 TB the BASE side's fingerprints AND signatures are the
    # maintained ingest-time index of the dedup_incremental story
    d_sets = (
        shingle_sets_of(qpass.select("doc_id", "text"))
        .filter(F.col("n_sh") > 0)
        .localCheckpoint(eager=True)
    )
    b_sets = (
        shingle_sets_of(
            newsnap.filter(~F.col("is_delta")).select("doc_id", "text")
        )
        .filter(F.col("n_sh") > 0)
        .localCheckpoint(eager=True)
    )
    # asymmetric EXACT layer: delta fingerprints vs the unchanged
    # base's fingerprint index (canonical sorted-shingle-set md5, the
    # dedup_incremental convention; quality-passers always have >= 30
    # words, so the zero-shingle guard never bites on the delta side)
    fp_of = lambda rel: rel.select(  # noqa: E731
        "doc_id", F.md5(F.concat_ws(" ", "arr")).alias("fp")
    )
    base_fp = fp_of(b_sets).select("fp").distinct()
    dup_exact = (
        fp_of(d_sets)
        .join(base_fp, "fp")
        .select("doc_id")
        .distinct()
        .withColumn("is_dup_exact", F.lit(True))
    )
    # asymmetric NEAR layer: the delta's bands joined against the
    # base's only, then the exact verify at the standard 0.8 threshold,
    # UNROUNDED (the oracle's dupn mirrors it) and above the projection
    # (functions/barrier.py)
    cand = band_candidates(minhash_band_rows(d_sets), minhash_band_rows(b_sets))
    dup_near = (
        filter_above(
            pair_overlap(cand, d_sets, b_sets),
            overlap_jaccard() >= JACCARD_THRESHOLD,
        )
        .select(F.col("d1").alias("doc_id"))
        .distinct()
        .withColumn("is_dup_near", F.lit(True))
    )
    # benchmark n-gram gate (llm_decontaminate shape): benchmark grams
    # built from the held-out docs' ORIGINAL text and broadcast
    grams = F.array_distinct(word_ngrams(tokens(F.col("text")), DECON_N))
    bench_grams = (
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(grams).alias("s"))
        .distinct()
    )
    contam = (
        qpass.select("doc_id", F.explode(grams).alias("s"))
        .join(F.broadcast(bench_grams), "s")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    status = (
        F.when(~F.col("keep"), F.lit("quality_fail"))
        .when(F.col("is_dup_exact").isNotNull(), F.lit("duplicate_exact"))
        .when(F.col("is_dup_near").isNotNull(), F.lit("duplicate_near"))
        .when(F.col("is_contam").isNotNull(), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    verdicts = (
        delta.join(quality, "doc_id")
        .join(dup_exact, "doc_id", "left")
        .join(dup_near, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select("source", status.alias("status"))
    )
    per_delta = verdicts.groupBy("source").agg(
        F.count(F.when(F.col("status") == "quality_fail", 1)).alias(
            "n_quality_fail"
        ),
        F.count(F.when(F.col("status") == "duplicate_exact", 1)).alias(
            "n_dup_exact"
        ),
        F.count(F.when(F.col("status") == "duplicate_near", 1)).alias(
            "n_dup_near"
        ),
        F.count(F.when(F.col("status") == "contaminated", 1)).alias(
            "n_contaminated"
        ),
        F.count(F.when(F.col("status") == "kept", 1)).alias("n_kept"),
    )
    per_snap = newsnap.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.count(F.when(F.col("is_delta"), 1)).alias("n_delta"),
    )
    z = F.lit(0).cast("long")
    return (
        per_snap.join(per_delta, "source", "left")
        .select(
            "source",
            "n_new",
            "n_delta",
            F.coalesce("n_quality_fail", z).alias("n_quality_fail"),
            F.coalesce("n_dup_exact", z).alias("n_dup_exact"),
            F.coalesce("n_dup_near", z).alias("n_dup_near"),
            F.coalesce("n_contaminated", z).alias("n_contaminated"),
            F.coalesce("n_kept", z).alias("n_kept"),
            (
                F.col("n_new")
                - F.col("n_delta")
                + F.coalesce("n_kept", z)
            ).alias("n_keeplist"),
            F.round(
                F.col("n_delta").cast("double")
                / F.when(F.col("n_new") > 0, F.col("n_new")).cast("double"),
                6,
            ).alias("reprocessed_frac"),
        )
    )


def _refresh_pipeline_sql() -> str:
    """DuckDB twin of the composed refresh pipeline: identical snapshot
    synthesis (benchmark docs excluded), Gopher gate over the delta CTE
    (the shared :func:`text.gopher_sql` template), BOTH asymmetric
    dedup layers of quality-passers vs the unchanged base (canonical
    fingerprint equi-join + banded MinHash candidates, via the shared
    :func:`dedup.minhash_bands_sql` builder, with the exact-Jaccard
    verify), benchmark 8-gram probe, CASE-priority verdicts, per-source
    rollup."""
    from .dedup import JACCARD_THRESHOLD, SQL_BAND_MATCH, minhash_bands_sql
    from .llmdata import BENCH_MOD, DECON_N
    from .text import gopher_sql

    h = "('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    rm = h.format(salt="snaprm|") + f" < {int(SNAP_RM_FRAC * _HASH_SPACE)}"
    add = h.format(salt="snapadd|") + f" < {int(SNAP_ADD_FRAC * _HASH_SPACE)}"
    chg = h.format(salt="snapchg|") + f" < {int(SNAP_CHG_FRAC * _HASH_SPACE)}"
    gram8 = (
        "UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]"
        " || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]"
        " || ' ' || w[i+7]"
        f" FOR i IN RANGE(1, GREATEST(LEN(w) - {DECON_N - 2}, 1))]) t(s)"
    )
    sh3 = (
        "UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
        " FOR i IN RANGE(1, GREATEST(LEN(w) - 1, 1))]) t(s)"
    )
    toks = SQL_TOKENS.format(col="text")
    return f"""
    WITH staged AS (
        SELECT doc_id, source, text,
               {rm} AS is_rm,
               ({add}) AND NOT ({rm}) AS is_add,
               {chg} AS is_chg
        FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
    newsnap AS MATERIALIZED (
        SELECT doc_id, source,
               CASE WHEN is_chg THEN text || ' [rev2]' ELSE text END AS text,
               (is_add OR is_chg) AS is_delta
        FROM staged WHERE NOT is_rm),
    delta AS MATERIALIZED (
        SELECT doc_id, source, text FROM newsnap WHERE is_delta),
    gq AS MATERIALIZED ({gopher_sql("delta")}),
    qpass AS MATERIALIZED (
        SELECT d.doc_id, d.source, d.text
        FROM delta d JOIN gq USING (doc_id) WHERE gq.keep),
    dsh AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, {toks} AS w FROM qpass), {sh3}),
    dsets AS MATERIALIZED (
        SELECT doc_id, LIST(s ORDER BY s) AS arr, COUNT(*) AS n
        FROM dsh GROUP BY doc_id),
    bsh AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, {toks} AS w FROM newsnap
              WHERE NOT is_delta), {sh3}),
    bsets AS MATERIALIZED (
        SELECT doc_id, LIST(s ORDER BY s) AS arr, COUNT(*) AS n
        FROM bsh GROUP BY doc_id),
    dfp AS (
        SELECT doc_id, md5(array_to_string(arr, ' ')) AS fp FROM dsets),
    bfp AS (
        SELECT DISTINCT md5(array_to_string(arr, ' ')) AS fp FROM bsets),
    dupx AS MATERIALIZED (
        SELECT DISTINCT d.doc_id FROM dfp d JOIN bfp USING (fp)),
    dband AS MATERIALIZED ({minhash_bands_sql("dsets")}),
    bband AS MATERIALIZED ({minhash_bands_sql("bsets")}),
    dupn AS MATERIALIZED (
        SELECT DISTINCT doc_id
        FROM (SELECT a.doc_id,
                     a.arr AS arr1, a.n AS n1, b.arr AS arr2, b.n AS n2
              FROM dband a JOIN bband b ON ({SQL_BAND_MATCH}))
        WHERE LEN(list_intersect(arr1, arr2)) * 1.0
              / (n1 + n2 - LEN(list_intersect(arr1, arr2)))
              >= {JACCARD_THRESHOLD}),
    bench AS MATERIALIZED (
        SELECT DISTINCT s
        FROM (SELECT {toks} AS w FROM documents
              WHERE doc_id % {BENCH_MOD} = 0), {gram8}),
    contam AS MATERIALIZED (
        SELECT DISTINCT g.doc_id
        FROM (SELECT DISTINCT doc_id, s
              FROM (SELECT doc_id, {toks} AS w FROM qpass), {gram8}) g
        JOIN bench USING (s)),
    verdicts AS (
        SELECT d.source,
               CASE WHEN NOT g.keep THEN 'quality_fail'
                    WHEN dx.doc_id IS NOT NULL THEN 'duplicate_exact'
                    WHEN dn.doc_id IS NOT NULL THEN 'duplicate_near'
                    WHEN c.doc_id IS NOT NULL THEN 'contaminated'
                    ELSE 'kept' END AS status
        FROM delta d
        JOIN gq g USING (doc_id)
        LEFT JOIN dupx dx ON d.doc_id = dx.doc_id
        LEFT JOIN dupn dn ON d.doc_id = dn.doc_id
        LEFT JOIN contam c ON d.doc_id = c.doc_id),
    per_delta AS (
        SELECT source,
               COUNT(CASE WHEN status = 'quality_fail' THEN 1 END)
                   AS n_quality_fail,
               COUNT(CASE WHEN status = 'duplicate_exact' THEN 1 END)
                   AS n_dup_exact,
               COUNT(CASE WHEN status = 'duplicate_near' THEN 1 END)
                   AS n_dup_near,
               COUNT(CASE WHEN status = 'contaminated' THEN 1 END)
                   AS n_contaminated,
               COUNT(CASE WHEN status = 'kept' THEN 1 END) AS n_kept
        FROM verdicts GROUP BY source),
    per_snap AS (
        SELECT source,
               COUNT(*) AS n_new,
               COUNT(CASE WHEN is_delta THEN 1 END) AS n_delta
        FROM newsnap GROUP BY source)
    SELECT s.source,
           CAST(s.n_new AS BIGINT) AS n_new,
           CAST(s.n_delta AS BIGINT) AS n_delta,
           CAST(COALESCE(d.n_quality_fail, 0) AS BIGINT) AS n_quality_fail,
           CAST(COALESCE(d.n_dup_exact, 0) AS BIGINT) AS n_dup_exact,
           CAST(COALESCE(d.n_dup_near, 0) AS BIGINT) AS n_dup_near,
           CAST(COALESCE(d.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(d.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(s.n_new - s.n_delta + COALESCE(d.n_kept, 0) AS BIGINT)
               AS n_keeplist,
           ROUND(CAST(s.n_delta AS DOUBLE)
                 / CAST(CASE WHEN s.n_new > 0 THEN s.n_new END AS DOUBLE), 6)
               AS reprocessed_frac
    FROM per_snap s LEFT JOIN per_delta d USING (source)
"""


QUERIES = {
    "corpus_drift_psi": Query(
        q_corpus_drift_psi,
        SQL_CORPUS_DRIFT_PSI.format(
            half=int(0.5 * _HASH_SPACE),
            toks=SQL_TOKENS.format(col="text"),
            k=DRIFT_VOCAB_K,
        ),
    ),
    "corpus_weighted_sample": Query(
        q_corpus_weighted_sample, SQL_CORPUS_WEIGHTED_SAMPLE
    ),
    "corpus_split_leakage": Query(q_corpus_split_leakage, _split_leakage_sql()),
    "corpus_shard_skew": Query(q_corpus_shard_skew, SQL_CORPUS_SHARD_SKEW),
    "corpus_mix_epochs": Query(q_corpus_mix_epochs, _sql_corpus_mix_epochs()),
    "corpus_weighted_median": Query(
        q_corpus_weighted_median, SQL_CORPUS_WEIGHTED_MEDIAN
    ),
    "corpus_interleave": Query(q_corpus_interleave, SQL_CORPUS_INTERLEAVE),
    "corpus_token_budget": Query(q_corpus_token_budget, _sql_corpus_token_budget()),
    "corpus_bigram_novelty": Query(
        q_corpus_bigram_novelty,
        SQL_CORPUS_BIGRAM_NOVELTY.format(toks=SQL_TOKENS.format(col="text")),
    ),
    "corpus_shuffle_split": Query(q_corpus_shuffle_split, SQL_CORPUS_SHUFFLE_SPLIT),
    "corpus_vocab_top": Query(
        q_corpus_vocab_top,
        SQL_CORPUS_VOCAB_TOP.format(toks=SQL_TOKENS.format(col="text")),
    ),
    "corpus_repetition": Query(
        q_corpus_repetition,
        SQL_CORPUS_REPETITION.format(toks=SQL_TOKENS.format(col="text")),
    ),
    "corpus_dsir": Query(
        q_corpus_dsir,
        SQL_CORPUS_DSIR.format(
            nb=DSIR_BUCKETS, toks=SQL_TOKENS.format(col="text")
        ),
    ),
    "corpus_url_filter": Query(
        q_corpus_url_filter, SQL_CORPUS_URL_FILTER.format(hs=_HASH_SPACE)
    ),
    "corpus_domain_mix": Query(
        q_corpus_domain_mix, SQL_CORPUS_DOMAIN_MIX.format(hs=_HASH_SPACE)
    ),
    "corpus_url_canonical": Query(
        q_corpus_url_canonical, SQL_CORPUS_URL_CANONICAL
    ),
    "corpus_split_cluster_safe": Query(
        q_corpus_split_cluster_safe, _split_cluster_safe_sql()
    ),
    "corpus_snapshot_diff": Query(
        q_corpus_snapshot_diff, _snapshot_diff_sql()
    ),
    "corpus_refresh_pipeline": Query(
        q_corpus_refresh_pipeline, _refresh_pipeline_sql()
    ),
}
