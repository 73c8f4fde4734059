"""Text-analysis operators over ``documents`` (SURVEY.md §2.4 text row;
BASELINE.json north star).

Everything stays JVM-side (split / regexp / higher-order array functions)
— token counting and quality scoring at 100 TB is a pure map, so the only
thing that matters is staying inside whole-stage codegen and letting the
parquet scan prune to (doc_id, text[, lang]).

- quality scoring: length / punctuation / stopword-ratio features and a
  deterministic composite score (oracle-checked).
- token counting: whitespace tokens AND a BPE-ish regex pre-tokenization
  (letters | digits | single non-space symbol), aggregated per language.
- n-gram profile: global top-20 word bigrams — explode + count + top-k.
- language-ID: corpus-trained character-bigram Naive-Bayes-ish scorer
  (oracle-checked since r7 via dec9 order-free log sums; determinism and
  self-consistency additionally asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec9
from ..registry import Query
from ..tables import load, load_meta, spread
from .dedup import SQL_TOKENS, WS_CHARS, WS_CLASS, WS_EXPR, tokens, word_ngrams

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")
BPE_ISH = f"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{WS_CHARS}]"


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + composite score (all deterministic).

    Stateless narrow projection — the same expression tree applies to a
    batch scan or a streaming source unchanged (see
    ``streaming.queries.q_stream_quality``)."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_in = ",".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(
        f"filter(filter(split(lower(text), '{WS_EXPR}+'), x -> x != ''), t -> t IN ({stop_in}))"
    ))
    n_chars = F.length(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    # Zero-token / zero-char guards (r5): under Spark's default ANSI mode
    # an unguarded ratio is a runtime DIVIDE_BY_ZERO — ONE empty or
    # whitespace-only document would kill a corpus-wide quality job. The
    # ratios are undefined there, so both engines emit NULL.
    has_toks = n_tokens > 0
    has_chars = n_chars > 0
    stop_ratio = F.when(has_toks, F.round(n_stop / n_tokens, 6))
    alpha_ratio = F.when(has_chars, F.round(alpha_chars / n_chars, 6))
    avg_tok_len = F.when(has_toks, F.round(alpha_chars / n_tokens, 6))
    score = F.when(
        has_toks & has_chars,
        F.round(
            (alpha_chars / n_chars) * 0.5
            + (n_stop / n_tokens) * 0.3
            + F.least(n_tokens / F.lit(32.0), F.lit(1.0)) * 0.2,
            6,
        ),
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        avg_tok_len.alias("avg_token_len"),
        score.alias("quality_score"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: quality features over ``documents``."""
    return quality_features(spread(load(spark, sf_dir, "documents"), "doc_id"))


_STOP_SQL = ",".join(f"'{s}'" for s in STOPWORDS)

SQL_TEXT_QUALITY = f"""
    WITH t AS (
        SELECT doc_id, lang, text,
               {SQL_TOKENS.format(col='text')} AS toks,
               LENGTH(text) AS n_chars,
               LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        FROM documents)
    SELECT doc_id, lang,
           CAST(LEN(toks) AS INTEGER) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           CASE WHEN LEN(toks) > 0 THEN
               ROUND(LEN(LIST_FILTER(toks, t -> t IN ({_STOP_SQL}))) * 1.0
                     / LEN(toks), 6) END AS stopword_ratio,
           CASE WHEN n_chars > 0 THEN
               ROUND(alpha_chars * 1.0 / n_chars, 6) END AS alpha_ratio,
           CASE WHEN LEN(toks) > 0 THEN
               ROUND(alpha_chars * 1.0 / LEN(toks), 6) END AS avg_token_len,
           CASE WHEN LEN(toks) > 0 AND n_chars > 0 THEN
               ROUND((alpha_chars * 1.0 / n_chars) * 0.5
                     + (LEN(LIST_FILTER(toks, t -> t IN ({_STOP_SQL}))) * 1.0 / LEN(toks)) * 0.3
                     + LEAST(LEN(toks) / 32.0, 1.0) * 0.2, 6) END AS quality_score
    FROM t
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per language: docs, whitespace tokens,
    BPE-ish regex tokens, distinct vocabulary, chars."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    # NB: not F.expr — Spark SQL string literals process backslash escapes,
    # which silently turns \s into s inside an embedded regex.
    bpe_count = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), F.lit(0)))
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_ws"),
        bpe_count.alias("n_bpe"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
        toks.alias("toks"),
    )
    vocab = (
        per_doc.select("lang", F.explode("toks").alias("t"))
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("vocab_size"))
    )
    stats = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws").alias("total_ws_tokens"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_ws") / F.count("*"), 6).alias("avg_tokens_per_doc"),
    )
    return stats.join(vocab, "lang")


SQL_TEXT_TOKEN_STATS = f"""
    WITH t AS (
        SELECT doc_id, lang,
               {SQL_TOKENS.format(col='text')} AS toks,
               LEN(regexp_extract_all(text, '{BPE_ISH}')) AS n_bpe,
               LENGTH(text) AS n_chars
        FROM documents),
    vocab AS (
        SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
        FROM t, UNNEST(toks) x(tok) GROUP BY lang),
    stats AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(toks)) AS BIGINT) AS total_ws_tokens,
               CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(SUM(LEN(toks)) * 1.0 / COUNT(*), 6) AS avg_tokens_per_doc
        FROM t GROUP BY lang)
    SELECT stats.*, vocab_size FROM stats JOIN vocab USING (lang)
"""


def q_text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams (tiebreak on the bigram string)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select(tokens(F.col("text")).alias("toks"))
    bigrams = word_ngrams(F.col("toks"), 2)
    return (
        staged.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


SQL_TEXT_NGRAM_TOP = f"""
    WITH bg AS (
        SELECT w[i] || ' ' || w[i+1] AS bigram
        FROM (SELECT {SQL_TOKENS.format(col='text')} AS w FROM documents),
             UNNEST(RANGE(1, GREATEST(LEN(w), 1))) r(i))
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
"""


FP_BASE = 131  # polynomial rolling-hash base
FP_MOD = 1 << 20  # per-token hash domain; keeps 3-term polynomial < 2^35
FP_WINDOW = 4  # fingerprints kept: min hash per window of 4 positions


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling polynomial hash + winnowing-style
    selection (the MOSS/shingle-fingerprint design for plagiarism / near-dup
    detection at corpus scale).

    Per doc: token stream → per-token hash (md5-derived, engine-portable) →
    degree-2 polynomial rolling hash over each 3-token window (the classic
    Rabin-Karp form; in a columnar engine the "roll" is three shifted array
    slices zipped, not an incremental update — same values, vectorized) →
    keep the minimum hash per window of 4 consecutive positions. Output is
    the fingerprint set (doc_id, bucket, fp): ~|doc|/4 values per doc, the
    compact sketch two corpora are joined on to find overlapping passages.

    Everything is exact integer math shared with the oracle: token hash
    < 2^20, so v1*131^2 + v2*131 + v3 < 2^35 — no overflow in either engine.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    hv = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        % FP_MOD,
    )
    # Materialize the token-hash array behind a projection boundary: the
    # three slices below would otherwise each re-evaluate the md5 map
    # (no CSE across higher-order-function lambdas; measured 3× slower).
    staged = docs.select("doc_id", hv.alias("hv"))
    c = F.col("hv")
    m = F.greatest(F.size(c) - 2, F.lit(1))
    rolled = F.zip_with(
        F.zip_with(
            F.slice(c, 1, m), F.slice(c, 2, m), lambda a, b: a * FP_BASE + b
        ),
        F.slice(c, 3, m),
        lambda ab, x: ab * FP_BASE + x,
    )
    guarded = F.when(F.size(c) >= 3, rolled).otherwise(
        F.array().cast("array<bigint>")
    )
    return (
        staged.select("doc_id", F.posexplode(guarded).alias("pos", "h"))
        .groupBy("doc_id", F.expr(f"CAST(pos DIV {FP_WINDOW} AS BIGINT)").alias("bucket"))
        .agg(F.min("h").alias("fp"))
    )


SQL_TEXT_FINGERPRINT = f"""
    WITH t AS (
        SELECT doc_id,
               list_transform({SQL_TOKENS.format(col='text')},
                   tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT % {FP_MOD}) AS v
        FROM documents),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               v[i] * {FP_BASE * FP_BASE} + v[i + 1] * {FP_BASE} + v[i + 2] AS h
        FROM t, UNNEST(RANGE(1, GREATEST(LEN(v) - 1, 1))) r(i))
    SELECT doc_id, CAST(pos // {FP_WINDOW} AS BIGINT) AS bucket, MIN(h) AS fp
    FROM g GROUP BY 1, 2
"""


def q_text_common_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated passages from the winnowing fingerprints —
    the corpus-scale boilerplate/exact-substring-dup detector (the
    aggregation step of suffix-array-style dedup, on the compact sketch
    instead of raw text).

    One partially-aggregated groupBy over the fingerprint relation
    (~|doc|/4 rows per doc): shuffle volume is bounded by distinct
    fingerprints, and the ≥2-docs filter drops the unique tail early.
    Feeding removal is a semi-join of documents against these fps."""
    fp = q_text_fingerprint(spark, sf_dir)
    return (
        fp.groupBy("fp")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SQL_TEXT_COMMON_PASSAGES = f"""
    WITH fps AS ({SQL_TEXT_FINGERPRINT})
    SELECT fp,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the pre-tokenization cleanup pass of
    a corpus pipeline): lowercase → non-alphanumerics to spaces →
    whitespace collapse → trim. Emitted as md5 + length so the oracle
    compares compact digests instead of full documents."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    )


SQL_TEXT_NORMALIZE = """
    SELECT doc_id,
           MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
               '[^a-z0-9]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           CAST(LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
               '[^a-z0-9]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language scorer, trained on the corpus itself.

    Profiles: P(char-bigram | lang) with add-one smoothing, computed from
    the labeled corpus; each doc is scored per language by summed log
    frequencies and assigned the argmax. This is the classic n-gram-profile
    language-ID shape (Cavnar-Trenkle style) as joins + aggregations —
    train and apply are both distributed; nothing driver-side.

    Oracle-checked since r7 (previously rows-only): each per-(doc, lang,
    bigram) log contribution is rounded to 9 decimals and summed as
    exact DECIMAL(28,9) — the order-free dec9 portability rule
    ``text_unigram_logprob`` proved for the identical n·ln(p) shape —
    so scores, and therefore the argmax (ties → smaller lang), are
    engine-identical. The r7 rewrite also fixed a latent short-doc bug:
    ``sequence(1, length-1)`` steps BACKWARD in Spark for length < 2
    (the guard ``text_bpe_pairs`` documents), minting junk bigrams from
    0-and-1-char documents where the oracle's generate_series is empty.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    chars2 = F.when(
        F.length("text") >= 2,
        F.expr(
            "transform(sequence(1, length(text) - 1),"
            " i -> substring(text, i, 2))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bg = docs.select("doc_id", "lang", F.explode(chars2).alias("bg"))
    # per-language bigram log-probabilities (add-one smoothed)
    lang_counts = doc_bg.groupBy("lang", "bg").agg(F.count("*").alias("c"))
    lang_totals = lang_counts.groupBy("lang").agg(F.sum("c").alias("total"))
    profile = lang_counts.join(lang_totals, "lang").select(
        F.col("lang").alias("p_lang"),
        "bg",
        F.log((F.col("c") + 1) / (F.col("total") + 1)).alias("logp"),
    )
    scored = (
        doc_bg.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(profile), "bg")
        .groupBy("doc_id", "p_lang")
        .agg(F.sum(dec9(F.col("n") * F.col("logp"))).alias("score"))
    )
    # tie-break must be NULL-safe on BOTH engines: Spark's bare ASC puts
    # NULLs FIRST, DuckDB's puts them LAST — a NULL-lang profile (NULL
    # lang is a real bucket, see text_bpe_fertility) tying with a named
    # language would otherwise diverge (ADVICE r7)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("p_lang").asc_nulls_last()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("p_lang").alias("predicted_lang"))
    )
    return docs.select("doc_id", "lang").join(pred, "doc_id")


SQL_TEXT_LANGID = """
    WITH bg AS (
        SELECT doc_id, lang, substring(text, i, 2) AS bg
        FROM documents,
             LATERAL UNNEST(generate_series(1, length(text) - 1)) t(i)),
    lang_counts AS (
        SELECT lang, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    lang_totals AS (
        SELECT lang, SUM(c) AS total FROM lang_counts GROUP BY 1),
    profile AS (
        SELECT lc.lang AS p_lang, bg,
               LN((c + 1) / (total + 1.0)) AS logp
        FROM lang_counts lc JOIN lang_totals USING (lang)),
    docbg AS (
        SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    scored AS (
        SELECT doc_id, p_lang,
               SUM(CAST(ROUND(n * logp, 9) AS DECIMAL(28,9))) AS score
        FROM docbg JOIN profile USING (bg)
        GROUP BY 1, 2),
    pred AS (
        SELECT doc_id, p_lang AS predicted_lang FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, p_lang NULLS LAST) AS rn
            FROM scored)
        WHERE rn = 1)
    SELECT d.doc_id, d.lang, predicted_lang
    FROM documents d JOIN pred USING (doc_id)
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF.

    Plan shape (the one that survives 100 TB): explode + groupBy(doc,
    term) is the only big shuffle; document frequency is an aggregation
    of that SAME relation down to |vocab| rows (identical subtree →
    ReusedExchange feeds both sides of the join, and AQE broadcasts the
    df side when the vocabulary fits — at web scale it degrades to a
    co-partitioned shuffle join on term, never a recompute of the
    corpus scan). The final top-k is a row_number window per doc —
    bounded partitions (a doc's distinct terms), no skew risk. idf uses
    the classic smoothed form ln((N+1)/(df+1)) + 1; the score is rounded
    through one IEEE double tree so both engines agree (ln is not
    required correctly-rounded, but a 1-ulp wobble dies in round(…, 6)).
    """
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (
        tf.join(df_rel, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: top-3 TF-IDF terms per document."""
    return tfidf_top_terms(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_TEXT_TFIDF = f"""
    WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS term
              FROM documents)
        GROUP BY doc_id, term),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               ROUND(tf.tf * (LN((n.n_docs + 1) * 1.0 / (dfreq.df + 1)) + 1), 6)
                   AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        FROM scored)
    WHERE rank <= {TFIDF_TOP_K}
"""


# GPT-2-style pretokenizer classes: space-prefixed letter runs, digit
# runs, punctuation runs. Kept to constructs with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): literal classes, no lookaround.
PRETOKEN_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def pretokenize_stats(docs: DataFrame) -> DataFrame:
    """Per-document BPE-pretokenization statistics — the unit a tokenizer
    trainer consumes (pretoken counts feed BPE merges; per-class counts
    feed corpus-mix dashboards; the distinct ratio is a cheap boilerplate
    flag).

    Narrow per-row regex + array algebra after a compute-spread: no
    shuffle, no Python. At 100 TB the same projection runs ahead of the
    tokenizer-training aggregation (see ``corpus_vocab_top``) so the
    expensive regex pass happens exactly once.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(PRETOKEN_RE), 0)
    n_class = {
        "n_word": " ?[a-z]+",
        "n_num": " ?[0-9]+",
        "n_punct": " ?[^a-z0-9 ]+",
    }
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_pretok"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        *[
            F.size(
                F.filter(toks, lambda t: t.rlike(f"^({pat})$"))
            ).cast("int").alias(name)
            for name, pat in n_class.items()
        ],
    )


def q_text_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: pretokenizer stats over ``documents``."""
    return pretokenize_stats(spread(load(spark, sf_dir, "documents"), "doc_id"))


SQL_TEXT_PRETOKENIZE = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{PRETOKEN_RE}') AS toks
        FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_pretok,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
           CAST(len(list_filter(toks,
               x -> regexp_full_match(x, ' ?[a-z]+'))) AS INTEGER) AS n_word,
           CAST(len(list_filter(toks,
               x -> regexp_full_match(x, ' ?[0-9]+'))) AS INTEGER) AS n_num,
           CAST(len(list_filter(toks,
               x -> regexp_full_match(x, ' ?[^a-z0-9 ]+'))) AS INTEGER) AS n_punct
    FROM t
"""


BM25_TERMS = ("spark", "query", "join")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame) -> DataFrame:
    """BM25 relevance of every document against a fixed keyword query —
    the retrieval scorer of a RAG / search-index pipeline, with a
    rational IDF surrogate ``(N - df + 0.5) / (df + 0.5)`` (the classic
    formula minus the log: monotone-identical ranking, and no libm ``ln``
    whose last ulp differs across engines).

    Plan shape is the 100 TB one: per-doc term frequencies are NARROW
    array expressions fused into the scan (no explode, no shuffle);
    corpus stats (N, avgdl, per-term df) are ONE partial-aggregated
    scalar pass broadcast back; the score is a fixed-order sum of
    per-term columns, so float addition order is engine-identical by
    construction. Total cost: one scan + one broadcast, ever.
    """
    toks = tokens(F.col("text"))

    def term_count(term: str):
        # nested def, not a default-arg lambda: F.filter reads a 2-arg
        # lambda as (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    staged = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[term_count(t).alias(f"tf_{t}") for t in BM25_TERMS],
    )
    stats = staged.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    scored = staged.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for t in BM25_TERMS:
        tf = F.col(f"tf_{t}").cast("double")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{t}") + F.lit(0.5)
        ) / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        score = score + idf * tf * F.lit(BM25_K1 + 1.0) / denom
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: BM25 keyword relevance over ``documents``."""
    return bm25_scores(spread(load(spark, sf_dir, "documents"), "doc_id"))


def _sql_text_bm25() -> str:
    toks = SQL_TOKENS.format(col="text")
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS
    )
    score = " + ".join(
        f"((CAST(n_docs AS DOUBLE) - df_{t} + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * CAST(tf_{t} AS DOUBLE) * {BM25_K1 + 1.0}"
        f" / (CAST(tf_{t} AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}"
        f" + {BM25_B} * CAST(dl AS DOUBLE) / avgdl))"
        for t in BM25_TERMS
    )
    return f"""
    WITH staged AS (
        SELECT doc_id, len(toks) AS dl, {tf_cols}
        FROM (SELECT doc_id, {toks} AS toks FROM documents)),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
        FROM staged)
    SELECT doc_id, ROUND(CAST(0.0 AS DOUBLE) + {score}, 6) AS bm25
    FROM staged CROSS JOIN stats
    WHERE ROUND(CAST(0.0 AS DOUBLE) + {score}, 6) > 0
"""


SQL_TEXT_BM25 = _sql_text_bm25()




def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability profile: word/sentence/syllable counts
    and the Flesch reading-ease score — the grade-level signal curation
    stacks use beside stopword/length heuristics (quality filtering by
    audience level).

    Syllables are the standard vowel-group approximation
    (non-overlapping ``[aeiouy]+`` runs — ``regexp_count`` here,
    ``regexp_extract_all`` length in DuckDB, identical left-to-right
    match semantics); sentence count is clamped to ≥ 1 so the ratio is
    total on punctuation-free text. The score is fixed literals and one
    IEEE double tree over integer counts — portable, rounded once.
    Entirely narrow (scan → project after compute-spread): linear at any
    scale.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
        F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]")), F.lit(1))
        .cast("bigint")
        .alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("bigint")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words"))
    )
    return staged.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(flesch, 6).alias("flesch"),
    )


SQL_TEXT_READABILITY = f"""
    WITH staged AS (
        SELECT doc_id,
               CAST(LEN({SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_words,
               CAST(GREATEST(LEN(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
                   AS n_sentences,
               CAST(LEN(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                   AS n_syllables
        FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(206.835
                 - 1.015 * (n_words * 1.0 / n_sentences)
                 - 84.6 * (n_syllables * 1.0 / n_words), 6) AS flesch
    FROM staged WHERE n_words > 0
"""


COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 50


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: bigrams whose words co-occur far more than
    chance — ranked by PMI-style lift, the phrase-mining primitive
    (multi-word-expression detection, phrase vocabulary for tokenizers).

    Lift is the PMI argument WITHOUT the log — an exact rational
    p(ab)/(p(a)p(b)) built from integer counts with one double division,
    so the ranking is engine-portable (cross-engine libm log is not; the
    log is monotone so the ranking is PMI's). Corpus-sized work is the
    unigram + bigram count aggregations (both partial-aggregated,
    vocabulary-sized outputs); the unigram joins hit vocabulary-sized
    relations, corpus totals broadcast as scalar rows, and the top-k is
    TakeOrdered on the ROUNDED score (never a global sort; rounding
    first makes the sort key itself cross-engine exact). Min-support
    filter kills the degenerate rare-pair tail before ranking.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    bi = (
        toked.select(F.explode(word_ngrams(F.col("toks"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= COLLOC_MIN_COUNT)
        .withColumn("w1", F.split("bg", " ")[0])
        .withColumn("w2", F.split("bg", " ")[1])
    )
    n_uni = uni.agg(F.sum("n_w").alias("n_uni_total"))
    n_bi_total = (
        toked.select(
            F.greatest(F.size("toks") - 1, F.lit(0)).alias("nb")
        ).agg(F.sum("nb").alias("n_bi_total"))
    )
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_total))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_uni_total") * F.col("n_uni_total"))
                / (F.col("n_bi_total").cast("double") * F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("w1"), F.col("w2")
    ).limit(COLLOC_TOP_K)


SQL_TEXT_COLLOCATIONS = f"""
    WITH toked AS (
        SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
        FROM (SELECT UNNEST(toks) AS w FROM toked) GROUP BY w),
    bi AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_ab,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM (SELECT UNNEST([toks[i] || ' ' || toks[i+1]
                             FOR i IN RANGE(1, GREATEST(LEN(toks), 1))]) AS bg
              FROM toked)
        GROUP BY bg HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
    tot AS (
        SELECT (SELECT SUM(n_w) FROM uni) AS n_uni_total,
               (SELECT SUM(GREATEST(LEN(toks) - 1, 0)) FROM toked) AS n_bi_total)
    SELECT w1, w2, n_ab, a.n_w AS n_a, b.n_w AS n_b,
           ROUND((CAST(n_ab AS DOUBLE) * n_uni_total * n_uni_total)
                 / (CAST(n_bi_total AS DOUBLE) * a.n_w * b.n_w), 6) AS lift
    FROM bi
    JOIN uni a ON bi.w1 = a.w
    JOIN uni b ON bi.w2 = b.w
    CROSS JOIN tot
    ORDER BY lift DESC, w1, w2
    LIMIT {COLLOC_TOP_K}
"""


ZIPF_TOP_N = 500


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Per-source Zipf's-law fit: OLS slope of ln(frequency) ~ ln(rank)
    over each source's top-N terms — natural text sits near −1, so the
    slope (with its R²) is a cheap distribution-level quality/anomaly
    probe per corpus slice (template spam flattens the head, boilerplate
    steepens it).

    Token counting is explode + one partial-aggregated groupBy (shuffle
    O(|vocab per source|)); ranking is a window PARTITIONED BY SOURCE —
    never global — and the frequency filter prunes to ≤N rows per source
    before the fit. The log-log co-moments would be engine-ordered float
    sums, so each ln is PRE-ROUNDED to 9 decimals and quantized to
    DECIMAL(18,9) (exact, order-free addition — the same portability
    trick as entropy_per_group), closing slope/R² in one rounded double
    tree per the agg_linreg pattern. At 100 TB every relation after the
    token groupBy is vocabulary-sized.
    """
    counts = (
        spread(docs, "doc_id")
        .select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "token")
    ranked = counts.select(
        "source", "n", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= ZIPF_TOP_N)
    # precision 18: x and y are multiplied before the sum (see dec9)
    x = dec9(F.log(F.col("rank").cast("double")), precision=18)
    y = dec9(F.log(F.col("n").cast("double")), precision=18)
    base = ranked.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return base.select(
        "source",
        "n_terms",
        F.when(vx != 0, F.round(cov / vx, 6)).alias("zipf_slope"),
        F.when(vx * vy != 0, F.round((cov * cov) / (vx * vy), 6)).alias("r2"),
    )


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: Zipf slope per source over ``documents``."""
    return zipf_fit(load(spark, sf_dir, "documents"))


SQL_TEXT_ZIPF = f"""
    WITH counts AS (
        SELECT source, token, COUNT(*) AS n
        FROM (SELECT source, UNNEST({SQL_TOKENS.format(col='text')}) AS token
              FROM documents)
        GROUP BY source, token),
    ranked AS (
        SELECT source, n,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n DESC, token) AS rank
        FROM counts
        QUALIFY rank <= {ZIPF_TOP_N}),
    quant AS (
        SELECT source,
               CAST(ROUND(LN(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
               CAST(ROUND(LN(CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        FROM ranked),
    base AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM quant GROUP BY source)
    SELECT source, n_terms,
           CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx <> 0
                THEN ROUND((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6)
           END AS zipf_slope,
           CASE WHEN (CAST(n_terms AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n_terms AS DOUBLE) * syy - sy * sy) <> 0
                THEN ROUND((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                           * (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                           / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
                              * (CAST(n_terms AS DOUBLE) * syy - sy * sy)), 6)
           END AS r2
    FROM base
"""


HASHING_DIM = 16  # small vs the ~31-term synthetic vocab so collisions exist


def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: project the
    corpus vocabulary onto a fixed ``HASHING_DIM``-bucket feature space (deliberately small
    against the synthetic vocabulary so the collision arms are real)
    via the portable md5 hash and report, per occupied bucket, how many
    DISTINCT terms collide there and how much occurrence mass it
    carries — the number that decides whether the chosen dim suffices or the
    vectorizer needs orders more (collisions silently merge unrelated features
    into one weight).

    Token counting is the usual explode + vocabulary-sized groupBy; the
    bucket rollup is a second bounded aggregation (≤ HASHING_DIM rows).
    The hash is the engine-portable md5 prefix, so bucket assignment —
    and therefore the whole audit — is bit-identical in DuckDB. A real
    vectorizer keeps (doc_id, bucket, count) as its output; this audit
    is that relation's corpus-level profile.
    """
    from .llmdata import _portable_hash

    counts = (
        spread(load(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occur"))
    )
    bucket = F.pmod(_portable_hash(F.col("token")), F.lit(HASHING_DIM)).cast("int")
    return (
        counts.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("n_occur").alias("n_occurrences"),
            F.min("token").alias("first_term"),
        )
    )


_TOK_MD5 = "('0x' || substr(md5(token), 1, 15))::BIGINT"

SQL_TEXT_FEATURE_HASHING = f"""
    WITH counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occur
        FROM (SELECT UNNEST({SQL_TOKENS.format(col='text')}) AS token
              FROM documents)
        GROUP BY token)
    SELECT CAST({_TOK_MD5} % {HASHING_DIM} AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(n_occur) AS BIGINT) AS n_occurrences,
           MIN(token) AS first_term
    FROM counts
    GROUP BY 1
"""


EDGE_TOKENS = 4  # header/footer window: first/last k tokens


def q_text_boilerplate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated document HEADERS and FOOTERS — the scraped-data
    boilerplate mode (same banner / same signature across many pages)
    that whole-document dedup misses and passage mining only catches if
    the window happens to align. Fingerprint = md5 of the first/last
    ``EDGE_TOKENS`` tokens; report every edge shared by ≥2 documents
    with its span count and an example doc.

    Narrow slice + hash per doc, one vocabulary-of-edges-sized groupBy;
    the per-doc work is two array slices. Output is the boilerplate
    removal worklist (strip these prefixes/suffixes before training).
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    # Footer start is clamped to 1: Spark's slice(toks, -k, k) returns []
    # when |toks| < k (md5('') — every short doc would falsely cluster as
    # one shared footer), while the oracle's toks[-k:] returns the whole
    # list. greatest(1, |toks|-k+1) makes both engines take the full
    # token list for short docs — the cross-engine exactness contract.
    footer_start = F.greatest(F.lit(1), F.size(toks) - F.lit(EDGE_TOKENS - 1))
    staged = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, EDGE_TOKENS))).alias("header_fp"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(toks, footer_start, EDGE_TOKENS),
            )
        ).alias("footer_fp"),
    )
    edges = staged.select(
        "doc_id", F.lit("header").alias("edge"), F.col("header_fp").alias("fp")
    ).unionByName(
        staged.select(
            "doc_id", F.lit("footer").alias("edge"), F.col("footer_fp").alias("fp")
        )
    )
    return (
        edges.groupBy("edge", "fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("example_doc"))
        .filter(F.col("n_docs") >= 2)
    )


SQL_TEXT_BOILERPLATE = f"""
    WITH staged AS (
        SELECT doc_id,
               -- COALESCE: DuckDB's array_to_string([]) is NULL where
               -- Spark's concat_ws is '' — zero-token docs must hash to
               -- md5('') in both engines
               md5(COALESCE(array_to_string(toks[1:{EDGE_TOKENS}], ' '), ''))
                   AS header_fp,
               md5(COALESCE(array_to_string(toks[-{EDGE_TOKENS}:], ' '), ''))
                   AS footer_fp
        FROM (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks
              FROM documents)),
    edges AS (
        SELECT doc_id, 'header' AS edge, header_fp AS fp FROM staged
        UNION ALL
        SELECT doc_id, 'footer' AS edge, footer_fp AS fp FROM staged)
    SELECT edge, fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS example_doc
    FROM edges GROUP BY edge, fp
    HAVING COUNT(*) >= 2
"""


# ---------------------------------------------------------------------------
# unigram LM quality score (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram language-model score — the CCNet-style
    quality filter: train a unigram LM on the corpus itself (add-one
    smoothed), score every document by mean negative log-likelihood per
    token, and surface perplexity. Documents full of rare/garbled tokens
    score high (surprising under the corpus distribution) and get cut;
    this is the standard first statistical quality gate of a
    web-scale curation pipeline, one notch above heuristic ratios
    (`text_quality`) and far cheaper than a neural scorer.

    Two corpus passes, both collapsing early: (1) the unigram table —
    one partial-aggregated groupBy token (vocabulary-sized output);
    (2) per-doc (doc, token, tf) counts joined against the unigram
    table on token (vocabulary-sized build side, shuffle join — AQE
    broadcasts it when small) and one groupBy doc_id. The corpus-sized
    relations never meet each other, only the vocab relation. Exactness:
    each tf·ln p term is rounded to 9 decimals and summed as exact
    decimal (order-free — the dec9 portability rule), one double close.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    unigram = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    stats = unigram.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("vocab")
    )
    ln_p = F.log(
        (F.col("cnt").cast("double") + F.lit(1.0))
        / (F.col("n_total").cast("double") + F.col("vocab").cast("double"))
    )
    term = dec9(F.col("tf").cast("double") * ln_p)
    per_doc = (
        tf.join(unigram, "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tokens"), F.sum(term).alias("s"))
    )
    nll = -(F.col("s").cast("double")) / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(nll, 6).alias("nll_per_token"),
        F.round(F.exp(nll), 4).alias("ppl"),
    )


SQL_TEXT_UNIGRAM_LOGPROB = f"""
    WITH tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST({{toks}}) AS token FROM documents)
        GROUP BY doc_id, token),
    unigram AS (
        SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
    stats AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM unigram),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               SUM(CAST(ROUND(CAST(tf AS DOUBLE)
                              * LN((CAST(cnt AS DOUBLE) + 1.0)
                                   / (CAST(n_total AS DOUBLE)
                                      + CAST(vocab AS DOUBLE))), 9)
                        AS DECIMAL(28,9))) AS s
        FROM tf JOIN unigram USING (token) CROSS JOIN stats
        GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           ROUND(-(CAST(s AS DOUBLE)) / CAST(n_tokens AS DOUBLE), 6)
               AS nll_per_token,
           ROUND(EXP(-(CAST(s AS DOUBLE)) / CAST(n_tokens AS DOUBLE)), 4)
               AS ppl
    FROM per_doc
"""


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1) —
    the heuristic gate every web-scale curation pipeline runs before any
    statistical or neural scorer: word-count bounds, mean-word-length
    bounds, symbol-to-word ratio ('#' and '...' artifacts), fraction of
    words containing an alphabetic character, and the required-stopword
    rule (>= 2 distinct hits from the 8-word list). Emits the per-doc
    feature values plus the composite ``keep`` verdict so downstream
    mixes can re-threshold without recomputing.

    Pure narrow map over (doc_id, text) — one scan partition-parallel
    pass, everything inside whole-stage codegen (split / filter /
    array_intersect / replace are all JVM higher-order functions), no
    shuffle at all: the 100 TB cost is exactly one read of the text
    column. Ratio guards follow the engine-wide rule: an empty/
    whitespace-only doc yields NULL ratios and keep=false on both
    engines (false AND NULL = false in 3-valued logic, so ``keep``
    itself is never NULL)."""
    return gopher_report(spread(load(spark, sf_dir, "documents"), "doc_id"))


def gopher_report(docs: DataFrame) -> DataFrame:
    """The Gopher featurization + keep verdict over ANY (doc_id, text)
    relation — factored out (r14) so composed pipelines (the crawl-
    refresh delta gate) can run the identical rule set on a delta
    relation instead of the whole table. Same narrow no-shuffle shape
    as the registry query above."""
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"), "text")
    n_words = F.size("toks")
    word_chars = F.length(F.regexp_replace(F.col("text"), WS_CLASS, ""))
    n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    n_ellipsis = F.expr("(length(text) - length(replace(text, '...', ''))) div 3")
    alpha_words = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-zA-Z]")))
    stop_hits = F.size(
        F.array_intersect(F.col("toks"), F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    has_words = n_words > 0
    mean_word_len = F.when(has_words, F.round(word_chars / n_words, 6))
    symbol_ratio = F.when(has_words, F.round((n_hash + n_ellipsis) / n_words, 6))
    alpha_ratio = F.when(has_words, F.round(alpha_words / n_words, 6))
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (symbol_ratio < 0.1)
        & (alpha_ratio > 0.8)
        & (stop_hits >= 2)
    )
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000


def gopher_sql(src: str) -> str:
    """DuckDB twin of :func:`gopher_report` over an arbitrary
    (doc_id, text) relation name ``src`` — a full SELECT producing the
    same report columns. ``SQL_TEXT_GOPHER_RULES`` is this over
    ``documents``; the crawl-refresh oracle runs it over its delta CTE."""
    return f"""
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           stop_hits,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND symbol_ratio < 0.1 AND alpha_word_ratio > 0.8
            AND stop_hits >= 2) AS keep
    FROM (
        SELECT doc_id,
               CAST(LEN(toks) AS INTEGER) AS n_words,
               CASE WHEN LEN(toks) > 0 THEN
                   ROUND(word_chars * 1.0 / LEN(toks), 6) END AS mean_word_len,
               CASE WHEN LEN(toks) > 0 THEN
                   ROUND((n_hash + n_ell) * 1.0 / LEN(toks), 6) END AS symbol_ratio,
               CASE WHEN LEN(toks) > 0 THEN
                   ROUND(LEN(LIST_FILTER(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                         * 1.0 / LEN(toks), 6) END AS alpha_word_ratio,
               CAST(LEN(LIST_INTERSECT(toks, [{_STOP_SQL}])) AS INTEGER) AS stop_hits
        FROM (
            SELECT doc_id,
                   {SQL_TOKENS.format(col='text')} AS toks,
                   LENGTH(REGEXP_REPLACE(text, '{WS_CLASS}', '', 'g')) AS word_chars,
                   LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '#', '', 'g')) AS n_hash,
                   (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3 AS n_ell
            FROM {src}))
"""


SQL_TEXT_GOPHER_RULES = gopher_sql("documents")


# ---------------------------------------------------------------------------
# cross-document line dedup (RefinedWeb-style line-wise correction)
# ---------------------------------------------------------------------------

LINE_DUP_MIN_DOCS = 2


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level cross-document deduplication — the RefinedWeb /
    MassiveText "line-wise correction" (Penedo et al. 2023; Rae et al.
    2021): a non-blank line occurring in ≥ LINE_DUP_MIN_DOCS distinct
    documents is boilerplate (nav bars, cookie banners, signatures) and
    is cut from EVERY document; blank lines never participate. The
    transform sibling of the detection ops (`text_common_passages` finds
    repeated passages, `text_boilerplate_edges` repeated headers/
    footers) — this one emits the cleaned text. Production deployments
    raise the threshold / use an occurrence fraction; the knob is the
    module constant.

    Plan: one newline posexplode; duplicated lines found by one
    groupBy over the 60-bit portable line hash (8-byte shuffle keys,
    the dedup-family width trick; countDistinct partial-aggregates);
    one hash join back; one groupBy(doc_id) whose collect_list gathers
    only survivors — the same ordered-stitch machinery as
    `llm_substring_clean`/`text_c4_rules`, single consumer chain.
    Every doc reaches the output through the stitch groupBy itself
    (split() yields ≥1 line even for empty text), so there is no
    join-back to documents at all."""
    from .llmdata import _portable_hash

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\n", -1)).alias("pos", "line"),
    ).withColumn("lh", _portable_hash(F.col("line")))
    dup = (
        lines.filter(F.trim("line") != "")
        .groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= LINE_DUP_MIN_DOCS)
        .select("lh")
    )
    marked = lines.join(
        dup.withColumn("hit", F.lit(True)), "lh", "left"
    ).select(
        "doc_id",
        "pos",
        "line",
        ((F.trim("line") != "") & F.col("hit").isNotNull()).alias("removed"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("removed"), F.struct("pos", "line"))
                    )
                ),
                lambda st: st["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )


SQL_TEXT_LINE_DEDUP = f"""
    WITH ls AS (
        SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents),
    lines AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos, arr[i] AS line,
               ('0x' || substr(md5(arr[i]), 1, 15))::BIGINT AS lh
        FROM ls, LATERAL UNNEST(generate_series(1, LEN(arr))) t(i)),
    dup AS (
        SELECT lh FROM lines WHERE TRIM(line) <> ''
        GROUP BY lh HAVING COUNT(DISTINCT doc_id) >= {LINE_DUP_MIN_DOCS}),
    marked AS (
        SELECT l.doc_id, l.pos, l.line,
               (TRIM(l.line) <> '' AND d.lh IS NOT NULL) AS removed
        FROM lines l LEFT JOIN dup d ON l.lh = d.lh)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed_lines,
           COALESCE(STRING_AGG(CASE WHEN NOT removed THEN line END,
                               chr(10) ORDER BY pos), '') AS cleaned_text
    FROM marked GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail quality buckets (Wenzek et al. 2020)
# ---------------------------------------------------------------------------


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality bucketing (Wenzek et al. 2020, "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data"): per
    language, rank documents by LM score (best = lowest perplexity
    first) and split them into head / middle / tail buckets of roughly
    equal TOKEN mass — the partition CCNet publishes and downstream
    pipelines sample from (head for quality, middle for volume, tail
    usually dropped).

    Composes the already-oracle-checked unigram LM
    (:func:`q_text_unigram_logprob` — CCNet's KenLM stand-in) with a
    metadata-only lang join (`load_meta` — the text column is read only
    by the LM pass) and one window pass per language: inclusive
    running token sum vs. the language total, thresholds evaluated in
    INTEGER arithmetic (3·cum ≤ tot, 3·cum ≤ 2·tot) so bucket edges are
    exact on both engines — no float division anywhere. Per-language
    windows parallelize across languages; within one language the
    running sum is a single sort-merge pass (same caveat + shard story
    as `pack_sequences`). Zero-token docs carry no LM score and are
    absent, mirroring CCNet (nothing to rank)."""
    scored = q_text_unigram_logprob(spark, sf_dir)
    d = scored.join(load_meta(spark, sf_dir, "documents", "lang"), "doc_id")
    wl = Window.partitionBy("lang")
    cum = F.sum("n_tokens").over(
        wl.orderBy("nll_per_token", "doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    tot = F.sum("n_tokens").over(wl)
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        "nll_per_token",
        F.when(F.lit(3) * cum <= tot, "head")
        .when(F.lit(3) * cum <= F.lit(2) * tot, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def _ccnet_buckets_sql() -> str:
    base = SQL_TEXT_UNIGRAM_LOGPROB.format(toks=SQL_TOKENS.format(col="text"))
    return f"""
    SELECT doc_id, lang, n_tokens, nll_per_token,
           CASE WHEN 3 * cum <= tot THEN 'head'
                WHEN 3 * cum <= 2 * tot THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM (
        SELECT b.doc_id, doc.lang, b.n_tokens, b.nll_per_token,
               SUM(b.n_tokens) OVER (
                   PARTITION BY doc.lang
                   ORDER BY b.nll_per_token, b.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(b.n_tokens) OVER (PARTITION BY doc.lang) AS tot
        FROM ({base}) b
        JOIN documents doc ON b.doc_id = doc.doc_id)
"""


# ---------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020 — line-level web-text cleaning)
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3


def q_text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning pipeline (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning…", §2.2) — the line-level complement to
    `text_gopher_rules`' doc-level gate, and the other most-cited public
    web-curation recipe. Line rules: keep a line only if it ends in a
    terminal punctuation mark (period/!/?/closing quote), has ≥ 5 words,
    and does not mention "javascript". Page rules: keep the page only
    if the cleaned text still has ≥ 3 sentences (terminal-punct count)
    and the ORIGINAL page contains neither "lorem ipsum" nor "{" (the
    paper's code-page heuristic). Emits the per-doc accounting plus the
    cleaned text (kept lines rejoined with newlines, original order).

    Plan: one posexplode of the newline split (doc-level lorem/brace
    flags ride along and come back via first() — functionally dependent
    on doc_id, no join back to documents), per-line predicates all JVM
    string ops inside codegen, one groupBy(doc_id) whose collect_list
    gathers ONLY kept lines (when() nulls drop out), ordered stitch via
    array_sort — the same reassembly machinery as llm_substring_clean.
    One shuffle total, carrying only kept lines; scales as a pure
    per-doc map. Word counts use the shared explicit-whitespace grammar
    (WS_CLASS); sentence counting is the length-difference idiom, exact
    on both engines."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    lines = docs.select(
        "doc_id",
        F.lower(F.col("text")).contains("lorem ipsum").alias("has_lorem"),
        F.col("text").contains("{").alias("has_brace"),
        F.posexplode(F.split("text", "\n", -1)).alias("pos", "line"),
    )
    n_words = F.size(
        F.filter(
            F.split(F.lower(F.col("line")), WS_CLASS + "+"), lambda x: x != ""
        )
    )
    kept = (
        F.expr("right(rtrim(line), 1)").isin(".", "!", "?", '"')
        & (n_words >= C4_MIN_LINE_WORDS)
        & ~F.lower(F.col("line")).contains("javascript")
    )
    per_doc = (
        lines.withColumn("kept", kept)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("kept").cast("long")).alias("n_kept_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "line"))
                        )
                    ),
                    lambda st: st["line"],
                ),
                "\n",
            ).alias("cleaned_text"),
            F.first("has_lorem").alias("has_lorem"),
            F.first("has_brace").alias("has_brace"),
        )
    )
    n_sent = (
        F.length("cleaned_text")
        - F.length(F.regexp_replace("cleaned_text", "[.!?]", ""))
    ).cast("int")
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        n_sent.alias("n_sentences"),
        (
            (n_sent >= C4_MIN_SENTENCES)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("keep"),
        "cleaned_text",
    )


SQL_TEXT_C4_RULES = f"""
    WITH ls AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS arr
        FROM documents),
    lines AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos, arr[i] AS line,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, '{{') AS has_brace
        FROM ls, LATERAL UNNEST(generate_series(1, LEN(arr))) t(i)),
    flags AS (
        SELECT doc_id, pos, line, has_lorem, has_brace,
               (right(rtrim(line), 1) IN ('.', '!', '?', '"')
                AND LEN(list_filter(string_split_regex(lower(line),
                        '{WS_CLASS}+'), x -> x <> ''))
                    >= {C4_MIN_LINE_WORDS}
                AND NOT contains(lower(line), 'javascript')) AS kept
        FROM lines),
    perdoc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept_lines,
               COALESCE(STRING_AGG(CASE WHEN kept THEN line END,
                                   chr(10) ORDER BY pos), '')
                   AS cleaned_text,
               BOOL_OR(has_lorem) AS has_lorem,
               BOOL_OR(has_brace) AS has_brace
        FROM flags GROUP BY doc_id)
    SELECT doc_id, n_lines, n_kept_lines,
           CAST(LENGTH(cleaned_text)
                - LENGTH(REGEXP_REPLACE(cleaned_text, '[.!?]', '', 'g'))
                AS INTEGER) AS n_sentences,
           (LENGTH(cleaned_text)
                - LENGTH(REGEXP_REPLACE(cleaned_text, '[.!?]', '', 'g'))
                >= {C4_MIN_SENTENCES}
            AND NOT has_lorem AND NOT has_brace) AS keep,
           cleaned_text
    FROM perdoc
"""


RAKE_TOP_K = 3  # phrases kept per document


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): per document, the
    top-{RAKE_TOP_K} candidate phrases by the degree/frequency word
    score — the unsupervised keyword miner curation stacks run beside
    TF-IDF (which needs the corpus; RAKE scores within one document).

    Spec (shared verbatim with the oracle): whitespace tokens via the
    repo token grammar; a token BREAKS phrases iff it is a stopword or
    contains any non-[a-z0-9] character (RAKE's punctuation split);
    maximal runs of non-break tokens are candidate phrases (islands
    trick: pos − row_number, no self-join); within a document
    deg(w) = Σ phrase_len over w's phrase occurrences, freq(w) = its
    occurrence count, score(phrase) = Σ deg(w)/freq(w) over members
    with multiplicity. Ranking: score desc, phrase asc; duplicate
    phrase texts in one doc collapse to one row with n_occurrences.

    Scale shape: every exchange is doc-keyed — the posexplode feeds one
    (doc | pos) window for islands, word stats are a (doc, word)
    partial-agg groupBy joined back co-partitioned, phrase assembly is a
    (doc, island) groupBy, and the top-k is a WindowGroupLimit-pushed
    rank. Nothing corpus-global exists, so 100 TB partitions embarrass-
    ingly by document. Exactness: deg/freq are exact integers; each
    word score is ONE IEEE division dec9-quantized before the exact
    decimal phrase sum; final score rounded once."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    stop = F.col("tok").isin(*STOPWORDS) | F.col("tok").rlike("[^a-z0-9]")
    members = toks.filter(~stop)
    wisl = Window.partitionBy("doc_id").orderBy("pos")
    ph = members.withColumn(
        "island", F.col("pos") - F.row_number().over(wisl)
    )
    # phrase length rides the island window so the word-stat rows carry
    # it without re-aggregating phrases first
    wph = Window.partitionBy("doc_id", "island")
    ph = ph.withColumn("phrase_len", F.count("*").over(wph))
    wstats = (
        ph.groupBy("doc_id", "tok")
        .agg(
            F.sum("phrase_len").alias("deg"),
            F.count("*").alias("freq"),
        )
        .select(
            "doc_id",
            "tok",
            dec9(F.col("deg") / F.col("freq"), 18).alias("wscore"),
        )
    )
    scored = (
        ph.join(wstats, ["doc_id", "tok"])
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.first("phrase_len").alias("n_words"),
            F.sum("wscore").cast("double").alias("score"),
        )
        .groupBy("doc_id", "phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.first("n_words").alias("n_words"),
            F.first("score").alias("score"),
        )
    )
    wtop = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= RAKE_TOP_K)
        .select(
            "doc_id",
            "rank",
            "phrase",
            F.col("n_words").cast("int").alias("n_words"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.round("score", 6).alias("score"),
        )
    )


SQL_TEXT_RAKE = f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, arr[i] AS tok
        FROM (SELECT doc_id, {SQL_TOKENS.format(col="text")} AS arr
              FROM documents) ls,
             LATERAL UNNEST(generate_series(1, LEN(arr))) t(i)),
    members AS (
        SELECT doc_id, pos, tok FROM toks
        WHERE NOT (tok IN ({_STOP_SQL}) OR regexp_matches(tok, '[^a-z0-9]'))),
    ph AS (
        SELECT doc_id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM members),
    ph2 AS (
        SELECT doc_id, pos, tok, island,
               COUNT(*) OVER (PARTITION BY doc_id, island) AS phrase_len
        FROM ph),
    wstats AS (
        SELECT doc_id, tok,
               CAST(ROUND(CAST(SUM(phrase_len) AS DOUBLE) / COUNT(*), 9)
                    AS DECIMAL(18,9)) AS wscore
        FROM ph2 GROUP BY doc_id, tok),
    phrases AS (
        SELECT p.doc_id, p.island,
               STRING_AGG(p.tok, ' ' ORDER BY p.pos) AS phrase,
               CAST(MAX(p.phrase_len) AS BIGINT) AS n_words,
               CAST(SUM(w.wscore) AS DOUBLE) AS score
        FROM ph2 p JOIN wstats w
          ON p.doc_id = w.doc_id AND p.tok = w.tok
        GROUP BY p.doc_id, p.island),
    collapsed AS (
        SELECT doc_id, phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(n_words) AS INTEGER) AS n_words,
               MAX(score) AS score
        FROM phrases GROUP BY doc_id, phrase)
    SELECT doc_id, rank, phrase, n_words, n_occurrences,
           ROUND(score, 6) AS score
    FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, phrase) AS INTEGER) AS rank
        FROM collapsed)
    WHERE rank <= {RAKE_TOP_K}
"""


KN_DISCOUNT = 0.75  # the standard absolute-discount value (Chen & Goodman)


def q_text_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser–Ney bigram perplexity (Kneser &
    Ney 1995; Chen & Goodman 1998) — the proper smoothed-LM quality
    score, one notch above the add-one unigram gate
    (:func:`q_text_unigram_logprob`); CCNet's actual filter is a KenLM
    n-gram LM, and the bigram KN here is its exact low-order form:

        P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁) + λ(w₁)·P_cont(w₂)
        λ(w₁)    = D·N₁₊(w₁·)/c(w₁)
        P_cont(w₂) = N₁₊(·w₂)/N₁₊(··)

    The LM trains on the corpus itself and scores the same corpus, so
    every scored bigram is seen and P > 0 totally (the first term is
    ≥ (1−D)/c(w₁) for seen pairs) — no <unk> machinery needed.

    CAVEAT (semantics, not correctness): self-training makes this a
    TYPICALITY score — low perplexity flags corpus-typical
    (boilerplate-like) text, not high-quality text. CCNet's actual
    filter trains on a target-domain corpus (Wikipedia) and scores the
    crawl; that semantics is :func:`q_text_kn_quality`, which trains
    the same model on the ``lang='{KN_TARGET_LANG}'`` slice and scores
    everything against it with <unk> backoff.

    Scale shape: one doc-keyed lead() window builds bigram instances;
    instance counts collapse per (doc, w₁, w₂) BEFORE the model join;
    the model is three partial-agg rollups over the bigram-TYPE
    relation (vocabulary-bounded): context totals + forward-distinct
    per w₁, continuation-distinct per w₂, and the 1-row type total as a
    broadcast. The per-doc scoring join keys on (w₁, w₂) against the
    type-sized probability relation — corpus-sized relations never meet
    each other. Exactness: every arithmetic term is forced to DOUBLE on
    both engines (DuckDB would otherwise do bigint−DECIMAL in decimal
    arithmetic), each tf·ln P term is dec9-pre-rounded, and the per-doc
    sum is an exact decimal. Docs with <2 tokens have no bigrams and
    drop from the output on both engines."""
    D = KN_DISCOUNT
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    inst = (
        toks.withColumn("w2", F.lead("w").over(wl))
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", F.col("w").alias("w1"), "w2")
        .agg(F.count("*").alias("tf"))
    )
    # checkpoint the vocabulary-bounded TYPE relation: ctx/cont/tot/p
    # all consume it under different shapes, and without the cut the
    # corpus tokenization re-evaluates FIVE times (ReuseExchange cannot
    # unify the differing consumers — the r8 llm_substring_clean
    # lesson). With it: two corpus passes total (model build + scoring
    # join), everything else vocabulary-sized.
    types = (
        inst.groupBy("w1", "w2")
        .agg(F.sum("tf").alias("c12"))
        .localCheckpoint()
    )
    ctx = types.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_fwd")
    )
    cont = types.groupBy("w2").agg(F.count("*").alias("n_bwd"))
    tot = types.agg(F.count("*").alias("n_types"))
    p = (
        types.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            (
                F.greatest(
                    F.col("c12").cast("double") - F.lit(D), F.lit(0.0)
                )
                / F.col("c1").cast("double")
                + (
                    F.lit(D)
                    * F.col("n_fwd").cast("double")
                    / F.col("c1").cast("double")
                )
                * (
                    F.col("n_bwd").cast("double")
                    / F.col("n_types").cast("double")
                )
            ).alias("p"),
        )
    )
    term = dec9(F.col("tf").cast("double") * F.log(F.col("p")))
    per_doc = (
        inst.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_bigrams"), F.sum(term).alias("s"))
    )
    # + 0.0 normalizes IEEE negative zero: an all-seen-bigram doc has
    # s = 0 and -(0.0)/n is -0.0 in DuckDB but +0.0 through Spark's
    # round — the one value repr-hashing distinguishes (r10 fuzz sweep)
    nll = -(F.col("s").cast("double")) / F.col("n_bigrams").cast("double") + F.lit(0.0)
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(nll, 6).alias("nll_per_bigram"),
        F.round(F.exp(nll), 4).alias("ppl"),
    )


SQL_TEXT_KN_PERPLEXITY = f"""
    WITH ls AS (
        SELECT doc_id, {SQL_TOKENS.format(col="text")} AS arr
        FROM documents),
    inst AS (
        SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM ls, LATERAL UNNEST(generate_series(1, LEN(arr) - 1)) t(i)
        GROUP BY 1, 2, 3),
    types AS (
        SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12
        FROM inst GROUP BY w1, w2),
    ctx AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n_fwd
        FROM types GROUP BY w1),
    cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bwd
        FROM types GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM types),
    p AS (
        SELECT w1, w2,
               GREATEST(CAST(c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0)
                   / CAST(c1 AS DOUBLE)
               + ({KN_DISCOUNT} * CAST(n_fwd AS DOUBLE)
                  / CAST(c1 AS DOUBLE))
                 * (CAST(n_bwd AS DOUBLE) / CAST(n_types AS DOUBLE)) AS p
        FROM types JOIN ctx USING (w1) JOIN cont USING (w2)
        CROSS JOIN tot),
    per_doc AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
               SUM(CAST(ROUND(CAST(tf AS DOUBLE) * LN(p), 9)
                        AS DECIMAL(28,9))) AS s
        FROM inst JOIN p USING (w1, w2)
        GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           ROUND(-CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.0, 6)
               AS nll_per_bigram,
           ROUND(EXP(-CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.0), 4)
               AS ppl
    FROM per_doc
"""


KN_TARGET_LANG = "en"  # the CCNet target-domain slice (corpus_dsir's too)


def q_text_kn_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-semantics quality filter (Wenzek et al. 2020): train the
    interpolated Kneser–Ney bigram LM of :func:`q_text_kn_perplexity`
    on a TARGET-domain slice (the ``lang='{KN_TARGET_LANG}'`` stratum —
    the same target :func:`corpus_dsir` uses) and score EVERY document
    against it. High perplexity = out-of-domain; this is quality
    filtering proper, where the self-trained variant measures only
    corpus-typicality. CCNet trains KenLM on Wikipedia and scores the
    crawl; the bigram KN here is the exact low-order form.

    Scoring a corpus the model was not trained on needs <unk>/backoff
    handling, done so Σ P(·|w₁) stays EXACTLY 1 (pinned in
    tests/test_kn_lm.py): the continuation distribution is add-one
    smoothed over V+1 outcomes (V = distinct target continuations, +1
    = the reserved <unk> type every target-OOV word maps to):

        P'_cont(w₂) = (N₁₊(·w₂) + 1) / (N₁₊(··) + V + 1)   [OOV: N₁₊=0]
        P(w₂|w₁)    = max(c(w₁w₂)−D, 0)/c(w₁) + λ(w₁)·P'_cont(w₂)
                      if c(w₁) > 0, else P'_cont(w₂)

    The discounted mass telescopes exactly as in standard KN (the seen
    terms sum to 1−λ, the smoothed continuation sums to 1), and the
    unseen-context arm is itself a proper distribution, so every
    conditional normalizes — and P > 0 totally, since the smoothed
    continuation floor is ≥ 1/(N₁₊(··)+V+1).

    Scale shape: identical cost contract to the self-trained operator —
    the target's bigram-TYPE relation is localCheckpointed (its three
    vocabulary-bounded rollups and the scoring join all consume it; the
    cut holds corpus passes at two: model build + scoring), scoring
    joins key on w₁ / (w₁,w₂) / w₂ against type-sized relations, and
    corpus-sized relations never meet. An empty target slice degrades
    totally: every score falls to the uniform floor (P = 1, ppl = 1),
    no crash. Exactness: all terms forced DOUBLE on both engines, one
    shared IEEE tree per arm, dec9 log terms, exact-decimal per-doc
    sums. n_unseen counts bigram instances whose PAIR is outside the
    target model — the OOV-rate column a curation pass thresholds
    alongside ppl."""
    D = KN_DISCOUNT
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokens(F.col("text"))).alias("pos", "w"),
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    inst = (
        toks.withColumn("w2", F.lead("w").over(wl))
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", "lang", F.col("w").alias("w1"), "w2")
        .agg(F.count("*").alias("tf"))
    )
    ttypes = (
        inst.filter(F.col("lang") == KN_TARGET_LANG)
        .groupBy("w1", "w2")
        .agg(F.sum("tf").alias("c12"))
        .localCheckpoint()
    )
    tctx = ttypes.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n_fwd")
    )
    tcont = ttypes.groupBy("w2").agg(F.count("*").alias("n_bwd"))
    ttot = ttypes.agg(
        F.count("*").alias("n_types"), F.count_distinct("w2").alias("v")
    )
    scored = (
        inst.join(tctx, ["w1"], "left")
        .join(ttypes, ["w1", "w2"], "left")
        .join(tcont, ["w2"], "left")
        .crossJoin(F.broadcast(ttot))
    )
    pcont = (F.coalesce(F.col("n_bwd"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("n_types").cast("double") + F.col("v").cast("double") + F.lit(1.0)
    )
    seen_p = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.lit(D),
            F.lit(0.0),
        )
        / F.col("c1").cast("double")
        + (F.lit(D) * F.col("n_fwd").cast("double") / F.col("c1").cast("double"))
        * pcont
    )
    p = F.when(F.col("c1").isNotNull(), seen_p).otherwise(pcont)
    term = dec9(F.col("tf").cast("double") * F.log(p))
    unseen = F.when(F.col("c12").isNull(), F.col("tf")).otherwise(F.lit(0))
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(unseen).cast("long").alias("n_unseen"),
        F.sum(term).alias("s"),
    )
    # + 0.0 normalizes IEEE negative zero: an all-seen-bigram doc has
    # s = 0 and -(0.0)/n is -0.0 in DuckDB but +0.0 through Spark's
    # round — the one value repr-hashing distinguishes (r10 fuzz sweep)
    nll = -(F.col("s").cast("double")) / F.col("n_bigrams").cast("double") + F.lit(0.0)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "n_unseen",
        F.round(nll, 6).alias("nll_per_bigram"),
        F.round(F.exp(nll), 4).alias("ppl"),
    )


_SQL_KN_PCONT = (
    "(CAST(COALESCE(n_bwd, 0) AS DOUBLE) + 1.0)"
    " / (CAST(n_types AS DOUBLE) + CAST(v AS DOUBLE) + 1.0)"
)

SQL_TEXT_KN_QUALITY = f"""
    WITH ls AS (
        SELECT doc_id, lang, {SQL_TOKENS.format(col="text")} AS arr
        FROM documents),
    inst AS MATERIALIZED (
        SELECT doc_id, lang, arr[i] AS w1, arr[i + 1] AS w2,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM ls, LATERAL UNNEST(generate_series(1, LEN(arr) - 1)) t(i)
        GROUP BY 1, 2, 3, 4),
    ttypes AS MATERIALIZED (
        SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12
        FROM inst WHERE lang = '{KN_TARGET_LANG}' GROUP BY w1, w2),
    tctx AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n_fwd
        FROM ttypes GROUP BY w1),
    tcont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bwd
        FROM ttypes GROUP BY w2),
    ttot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                    CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM ttypes),
    scored AS (
        SELECT i.doc_id, i.lang, i.tf, t.c12, c.c1, c.n_fwd, n.n_bwd,
               tt.n_types, tt.v
        FROM inst i
        LEFT JOIN tctx c ON i.w1 = c.w1
        LEFT JOIN ttypes t ON i.w1 = t.w1 AND i.w2 = t.w2
        LEFT JOIN tcont n ON i.w2 = n.w2
        CROSS JOIN ttot tt),
    per_doc AS (
        SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN c12 IS NULL THEN tf ELSE 0 END)
                    AS BIGINT) AS n_unseen,
               SUM(CAST(ROUND(CAST(tf AS DOUBLE) * LN(
                   CASE WHEN c1 IS NOT NULL THEN
                       GREATEST(CAST(COALESCE(c12, 0) AS DOUBLE)
                                - {KN_DISCOUNT}, 0.0)
                           / CAST(c1 AS DOUBLE)
                       + ({KN_DISCOUNT} * CAST(n_fwd AS DOUBLE)
                          / CAST(c1 AS DOUBLE))
                         * {_SQL_KN_PCONT}
                   ELSE {_SQL_KN_PCONT}
                   END), 9) AS DECIMAL(28,9))) AS s
        FROM scored GROUP BY 1, 2)
    SELECT doc_id, lang, n_bigrams, n_unseen,
           ROUND(-CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.0, 6)
               AS nll_per_bigram,
           ROUND(EXP(-CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.0), 4)
               AS ppl
    FROM per_doc
"""





QUERIES = {
    "text_kn_quality": Query(q_text_kn_quality, SQL_TEXT_KN_QUALITY),
    "text_kn_perplexity": Query(q_text_kn_perplexity, SQL_TEXT_KN_PERPLEXITY),
    "text_rake_keywords": Query(q_text_rake_keywords, SQL_TEXT_RAKE),
    "text_c4_rules": Query(q_text_c4_rules, SQL_TEXT_C4_RULES),
    "text_ccnet_buckets": Query(q_text_ccnet_buckets, _ccnet_buckets_sql()),
    "text_line_dedup": Query(q_text_line_dedup, SQL_TEXT_LINE_DEDUP),
    "text_unigram_logprob": Query(
        q_text_unigram_logprob,
        SQL_TEXT_UNIGRAM_LOGPROB.format(toks=SQL_TOKENS.format(col="text")),
    ),
    "text_boilerplate_edges": Query(
        q_text_boilerplate_edges, SQL_TEXT_BOILERPLATE
    ),
    "text_feature_hashing": Query(q_text_feature_hashing, SQL_TEXT_FEATURE_HASHING),
    "text_zipf": Query(q_text_zipf, SQL_TEXT_ZIPF),
    "text_collocations": Query(q_text_collocations, SQL_TEXT_COLLOCATIONS),
    "text_readability": Query(q_text_readability, SQL_TEXT_READABILITY),
    "text_bm25": Query(q_text_bm25, SQL_TEXT_BM25),
    "text_pretokenize": Query(q_text_pretokenize, SQL_TEXT_PRETOKENIZE),
    "text_common_passages": Query(q_text_common_passages, SQL_TEXT_COMMON_PASSAGES),
    "text_quality": Query(q_text_quality, SQL_TEXT_QUALITY, headline=True),
    "text_token_stats": Query(q_text_token_stats, SQL_TEXT_TOKEN_STATS),
    "text_ngram_top": Query(q_text_ngram_top, SQL_TEXT_NGRAM_TOP),
    "text_fingerprint": Query(q_text_fingerprint, SQL_TEXT_FINGERPRINT, headline=True),
    "text_normalize": Query(q_text_normalize, SQL_TEXT_NORMALIZE),
    "text_tfidf": Query(q_text_tfidf, SQL_TEXT_TFIDF),
    "text_langid": Query(q_text_langid, SQL_TEXT_LANGID),
    "text_gopher_rules": Query(q_text_gopher_rules, SQL_TEXT_GOPHER_RULES),
}
