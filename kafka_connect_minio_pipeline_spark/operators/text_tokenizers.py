"""Subword tokenizer trainers: the merge-based BPE quartet and the
unigram-LM (SentencePiece, Kudo 2018) family — split out of
``operators.text`` for navigability (VERDICT r12 item 7; pure move, no
semantic change, registry names unchanged).

Both trainers share the same shape: the corpus contributes ONE
token/word-count pass, then every EM/merge round is vocabulary-bounded
relational algebra mirrored by an unrolled DuckDB CTE chain.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec9, dec12 as _dec12
from ..registry import Query
from ..staging import session_cached
from ..tables import load, load_meta, spread
from .dedup import SQL_TOKENS, tokens

BPE_TOP_PAIRS = 30


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-merge statistics — the inner loop of BPE tokenizer
    training, run as two aggregations: (1) the corpus collapses to a
    word-frequency relation (vocabulary-sized, tiny next to the corpus —
    this is exactly why real BPE trainers pre-aggregate words first);
    (2) each distinct word fans out to its adjacent character pairs with
    multiplicity, weighted by word count, and the top merge candidates
    come back via TakeOrdered. At 100 TB stage 1 is the only pass over
    the data (partial-aggregated count); stage 2 is sized by |vocab|,
    not corpus size. Subsequent merge iterations rewrite the word→symbol
    split and repeat stage 2 only — the loop never rescans the corpus.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # sequence(1, 0) would step BACKWARD in Spark — guard 1-char words
    pair_arr = F.when(
        F.length("word") >= 2,
        F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select("cnt", F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


SQL_TEXT_BPE_PAIRS = f"""
    WITH words AS (
        SELECT t.w AS word, COUNT(*) AS cnt
        FROM (SELECT {SQL_TOKENS.format(col='text')} AS toks FROM documents),
             UNNEST(toks) t(w)
        GROUP BY 1),
    pairs AS (
        SELECT cnt, p.pair
        FROM words,
             UNNEST([substr(word, i, 2) FOR i IN RANGE(1, LENGTH(word))]) p(pair))
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occ
    FROM pairs GROUP BY pair
    ORDER BY n_occ DESC, pair
    LIMIT {BPE_TOP_PAIRS}
"""


BPE_MERGES = 8  # learned merge rounds (fixed constant, unrolled identically
#                 in the Spark plan and the DuckDB oracle)
# BPE runs over alphanumeric words only: whitespace tokens may carry
# punctuation (tokens() is a pure \s+ split), and restricting the merge
# alphabet to [a-z0-9] makes the '<'/'>' symbol wrappers collision-free.
BPE_WORD_RE = "\\A[a-z0-9]+\\z"


def _bpe_rounds(words: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """Learn ``BPE_MERGES`` BPE merges over a (word, cnt) relation; return
    (final segmentations, per-round 1-row winner relations (pr, w) — pr
    NULL when the pair supply was exhausted) — the train half of a
    byte-pair tokenizer as pure dataflow (the inference half is
    :func:`q_text_bpe_apply`; the winner list is the merge TABLE
    ``q_text_bpe_vocab`` emits).

    Representation: a word's symbol sequence is ONE string with every
    symbol wrapped, ``hello → "<h><e><l><l><o>"``. Merging the winning
    pair (a,b) is then ``replace(seq, '<a><b>', '<ab>')`` — both engines'
    ``replace`` scans left-to-right non-overlapping, which IS the BPE
    merge order (``lll`` under an (l,l) merge → ``[ll, l]``), and the
    wrappers make the pattern an exact symbol-boundary match (``<a><b>``
    can never match inside ``<xa><bc>``).

    Each round is two vocabulary-sized steps: (1) pair statistics —
    split every seq back to symbols, fan out adjacent pairs weighted by
    word count, one groupBy; the winner is max weight with the smaller
    pair string on ties (deterministic, and pure ASCII so Spark's UTF8
    ordering agrees with DuckDB's binary collation); (2) collapse — the
    1-row winner relation is broadcast onto the vocabulary and folded
    into seq via ``replace``. An exhausted pair supply yields a NULL
    winner, coalesced to an unmatchable ``\\x01`` sentinel so later
    rounds are no-ops instead of NULL-poisoning every seq. Rounds are
    ``localCheckpoint``-ed (vocabulary-sized, like the MMR pool) so the
    unrolled plan stays linear instead of re-deriving round k-1 for both
    of round k's consumers. At 100 TB the corpus is never rescanned:
    the caller collapses it to (word, cnt) once, and every round here is
    sized by |vocab|, exactly like a real BPE trainer's pre-aggregated
    inner loop.
    """
    cur = words.select(
        "word", "cnt", F.regexp_replace(F.col("word"), "(.)", "<$1>").alias("seq")
    )
    pair_arr = (
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        " i -> concat('<', element_at(syms, i), '><', element_at(syms, i + 1), '>'))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    winners: list[DataFrame] = []
    for _ in range(BPE_MERGES):
        staged = cur.withColumn(
            "syms", F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        )
        best = (
            staged.select("cnt", F.explode(F.expr(pair_arr)).alias("pr"))
            .groupBy("pr")
            .agg(F.sum("cnt").alias("w"))
            .orderBy(F.col("w").desc(), "pr")
            .limit(1)
            # exactly 1 row; NULLs when no pairs (min of the 1-row limit
            # is that row, min of zero rows is NULL)
            .agg(F.min("pr").alias("pr"), F.min("w").alias("w"))
        )
        winners.append(best)
        tgt = F.coalesce(F.col("pr"), F.lit("\x01"))
        cur = (
            staged.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                F.replace(
                    F.col("seq"), tgt, F.replace(tgt, F.lit("><"), F.lit(""))
                ).alias("seq"),
            )
            .localCheckpoint()  # bounded: |vocab| rows
        )
    return cur, winners


def bpe_learn_segment(words: DataFrame) -> DataFrame:
    """Final per-word segmentations only (see :func:`_bpe_rounds`)."""
    cur, _ = _bpe_rounds(words)
    return cur


def bpe_apply_merges(
    words: DataFrame, winners: list[DataFrame]
) -> DataFrame:
    """ENCODE an arbitrary (w) relation with an already-learned merge
    table — the inference-on-new-domain half of BPE (the trained
    winners apply to any string, seen or not; that is the whole point
    of a subword vocab). Same representation and fold as the trainer:
    wrap every char, apply each 1-row broadcast winner in merge order
    via ``replace`` (exhausted rounds carry the unmatchable sentinel).
    |words| rows × BPE_MERGES vocabulary-sized folds; never corpus-sized."""
    cur = words.select(
        "w", F.regexp_replace(F.col("w"), "(.)", "<$1>").alias("seq")
    )
    for best in winners:
        tgt = F.coalesce(F.col("pr"), F.lit("\x01"))
        cur = (
            # the winner's weight column is also named w — keep only pr
            cur.crossJoin(F.broadcast(best.select("pr")))
            .select(
                "w",
                F.replace(
                    F.col("seq"), tgt, F.replace(tgt, F.lit("><"), F.lit(""))
                ).alias("seq"),
            )
            .localCheckpoint()  # bounded: |words| rows
        )
    return cur


def _corpus_words(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(doc-word rows, checkpointed (word, cnt) vocabulary) — pass 1 of
    the tokenizer pipeline, shared by the vocab/apply/fertility queries."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    dw = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike(BPE_WORD_RE))
    words = dw.groupBy("word").agg(F.count("*").alias("cnt")).localCheckpoint()
    return dw, words


def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned MERGE TABLE itself as a first-class relation —
    (merge_rank, pair, n_occ): the ordered list of byte-pair merges a
    trained tokenizer ships as its vocabulary artifact, with each
    winner's corpus weight at the time it won. Rounds out the tokenizer
    triple: ``text_bpe_pairs`` (pre-merge statistics), this (the train
    artifact), ``text_bpe_apply`` (encode). One corpus pass (the word
    collapse); everything after is vocabulary-sized; the per-round
    winner relations come straight from the already-checkpointed merge
    loop, so emitting the table re-runs nothing corpus-shaped. The
    DuckDB oracle reads the same winners off its unrolled round CTEs."""
    _, words = _corpus_words(spark, sf_dir)
    _, winners = _bpe_rounds(words)
    out = None
    for m, best in enumerate(winners, start=1):
        row = best.select(
            F.lit(m).cast("int").alias("merge_rank"),
            F.col("pr").alias("pair"),
            F.col("w").cast("bigint").alias("n_occ"),
        )
        out = row if out is None else out.unionByName(row)
    return out.filter(F.col("pair").isNotNull())


def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (the inference half of the tokenizer pipeline): train
    the :data:`BPE_MERGES`-merge table on the corpus's own word-frequency
    relation (:func:`bpe_learn_segment` — the same statistics
    ``text_bpe_pairs`` reports), then encode every document by joining
    its words to their learned segmentations. Output per document: word
    count, character mass, and the post-BPE token count — the number a
    token-budget/packing pipeline actually needs from an encoder.

    Two corpus passes total, the canonical tokenizer shape: pass 1
    collapses the corpus to (word, cnt) for training (partial-aggregated
    groupBy, vocabulary-sized output); pass 2 re-tokenizes and joins on
    word against the vocabulary-sized segmentation table (AQE broadcasts
    it when small) with one per-doc groupBy. The merge loop in between
    never touches the corpus. The DuckDB oracle unrolls the identical
    rounds, so the whole encode — merge table included — hash-matches.
    """
    dw, words = _corpus_words(spark, sf_dir)
    vocab = bpe_learn_segment(words).select(
        "word",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).alias("n_syms"),
    )
    return (
        dw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars_alnum"),
            F.sum("n_syms").cast("bigint").alias("n_bpe"),
        )
    )


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report per language — tokens-per-word and
    chars-per-token of the corpus-trained BPE encoder, the standard
    numbers a tokenizer eval publishes before a vocab ships (high
    fertility on a language = that language pays more sequence length
    per word — the multilingual-cost metric). Built on the encode pass:
    per-doc BPE counts grouped by ``documents.lang`` via a
    metadata-pruned join (load_meta — the lang lookup never re-reads
    the text column). NULL lang groups as its own bucket, identically
    in both engines."""
    dw, words = _corpus_words(spark, sf_dir)
    vocab = bpe_learn_segment(words).select(
        "word",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).alias("n_syms"),
    )
    perdoc = (
        dw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_syms").alias("n_bpe"),
        )
    )
    lang = load_meta(spark, sf_dir, "documents", "lang")
    return (
        perdoc.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
            ).alias("chars_per_token"),
        )
    )


def _bpe_cte_chain() -> tuple[str, str]:
    """(CTE body, final-segmentation CTE name) shared by the
    vocab/apply/fertility oracles — the DuckDB twin of
    :func:`_corpus_words` + :func:`_bpe_rounds`. Each round's winner CTE
    b{m} always holds exactly one row: the wrapped winning pair (sentinel
    chr(1) when the pair supply is exhausted — matches the Spark
    coalesce) and its weight."""
    rounds = []
    prev = "s0"
    for m in range(1, BPE_MERGES + 1):
        rounds.append(f"""
    p{m} AS (
        SELECT '<' || syms[i] || '><' || syms[i + 1] || '>' AS pr,
               SUM(cnt) AS w
        FROM (SELECT cnt,
                     string_split(substr(seq, 2, length(seq) - 2), '><') AS syms
              FROM {prev}),
             LATERAL UNNEST(generate_series(1, len(syms) - 1)) t(i)
        GROUP BY 1),
    b{m} AS MATERIALIZED (
        -- exactly ONE reference to p{m}: a second scalar subquery here
        -- doubles the reference count per round, and DuckDB's CTE
        -- inlining then re-evaluates the whole prefix 2^rounds times
        -- (measured: >60 s at sf0.001 vs milliseconds); the 1-row
        -- left join keeps b{m} total when p{m} is empty. MATERIALIZED
        -- (r14): the A/B card's shared-domain apply chain references
        -- each b{m} a second time — pinning the 1-row winner guards
        -- the same inlining blowup for every multi-consumer oracle
        SELECT COALESCE(t.pr, chr(1)) AS pr, t.w
        FROM (VALUES (1)) d(x)
        LEFT JOIN (SELECT pr, w FROM p{m}
                   ORDER BY w DESC, pr LIMIT 1) t ON TRUE),
    s{m} AS (
        SELECT word, cnt, replace(seq, b.pr, replace(b.pr, '><', '')) AS seq
        FROM {prev}, b{m} b)""")
        prev = f"s{m}"
    toks = SQL_TOKENS.format(col="text")
    chain = f"""dw AS (
        SELECT doc_id, t.w AS word
        FROM (SELECT doc_id, {toks} AS toks FROM documents),
             UNNEST(toks) t(w)
        WHERE regexp_full_match(t.w, '[a-z0-9]+')),
    w0 AS (SELECT word, COUNT(*) AS cnt FROM dw GROUP BY 1),
    s0 AS (SELECT word, cnt,
                  regexp_replace(word, '(.)', '<\\1>', 'g') AS seq
           FROM w0),{",".join(rounds)}"""
    return chain, prev


def _bpe_apply_sql() -> str:
    chain, prev = _bpe_cte_chain()
    return f"""
    WITH {chain}
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars_alnum,
           CAST(SUM(len(string_split(substr(v.seq, 2, length(v.seq) - 2),
                                     '><'))) AS BIGINT) AS n_bpe
    FROM dw d JOIN {prev} v USING (word)
    GROUP BY d.doc_id
"""


def _bpe_vocab_sql() -> str:
    chain, _ = _bpe_cte_chain()
    arms = "\n    UNION ALL ".join(
        f"SELECT CAST({m} AS INTEGER) AS merge_rank, pr AS pair,"
        f" CAST(w AS BIGINT) AS n_occ FROM b{m} WHERE pr <> chr(1)"
        for m in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH {chain}
    {arms}
"""


def _bpe_fertility_sql() -> str:
    chain, prev = _bpe_cte_chain()
    return f"""
    WITH {chain},
    perdoc AS (
        SELECT d.doc_id,
               COUNT(*) AS n_words,
               SUM(LENGTH(d.word)) AS n_chars,
               SUM(len(string_split(substr(v.seq, 2, length(v.seq) - 2),
                                    '><'))) AS n_bpe
        FROM dw d JOIN {prev} v USING (word)
        GROUP BY d.doc_id)
    SELECT doc.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_words) AS BIGINT) AS total_words,
           CAST(SUM(p.n_bpe) AS BIGINT) AS total_bpe,
           ROUND(CAST(SUM(p.n_bpe) AS DOUBLE) / SUM(p.n_words), 6)
               AS fertility,
           ROUND(CAST(SUM(p.n_chars) AS DOUBLE) / SUM(p.n_bpe), 6)
               AS chars_per_token
    FROM perdoc p JOIN documents doc USING (doc_id)
    GROUP BY doc.lang
"""


SQL_TEXT_BPE_APPLY = _bpe_apply_sql()
SQL_TEXT_BPE_VOCAB = _bpe_vocab_sql()
SQL_TEXT_BPE_FERTILITY = _bpe_fertility_sql()

# ---------------------------------------------------------------------------
# unigram-LM tokenizer trainer (SentencePiece-unigram, Kudo 2018)
# ---------------------------------------------------------------------------

UNI_PIECE_MAX = 4  # max candidate-piece length (chars)
UNI_WORD_MAX = 8  # words truncate to this many chars for the lattice
UNI_EM_ROUNDS = 2  # unrolled full EM rounds (fixed — no convergence loop)
UNI_VOCAB_K = 48  # emitted vocabulary size (top-K by expected count)
# Kudo 2018 §3.2 vocabulary-pruning schedule (VERDICT r12 item 3): after
# the seed EM rounds, alternate PRUNE (keep the top-k multi-char pieces
# by expected count — the lowest-contribution pieces drop; single-char
# pieces are never pruned, SentencePiece's required-character rule, so
# every word stays coverable) with one re-EM round that redistributes
# the dropped pieces' mass. Budgets are the multi-char keep counts per
# round (the shrink schedule toward the target vocabulary).
UNI_PRUNE_TARGETS = (256, 96)


def _uni_compositions() -> list[list[int]]:
    """Every ordered composition of n ∈ [1, UNI_WORD_MAX] into parts of
    size ≤ UNI_PIECE_MAX — the complete segmentation lattice of a
    (truncated) word, enumerated ONCE driver-side as a constant. 223
    compositions for (8, 4); the count is a function of two small fixed
    hyperparameters, never of the data."""
    out: list[list[int]] = []

    def rec(rem: int, acc: list[int]) -> None:
        if rem == 0:
            out.append(list(acc))
            return
        for piece in range(1, min(UNI_PIECE_MAX, rem) + 1):
            rec(rem - piece, acc + [piece])

    for n in range(1, UNI_WORD_MAX + 1):
        rec(n, [])
    return out


def _uni_comp_rows() -> list[tuple[int, str, int, int, int]]:
    """(n, seg, part_idx, j, l) rows of the composition lattice; ``seg``
    is the comma-joined part-length string — the same key the oracle
    derives by splitting the identical literal list, so the two engines
    group segmentations identically by construction."""
    rows = []
    for parts in _uni_compositions():
        seg = ",".join(map(str, parts))
        j = 0
        for k, piece_len in enumerate(parts):
            rows.append((sum(parts), seg, k + 1, j, piece_len))
            j += piece_len
    return rows


def _uni_prod(cols: list[F.Column]) -> F.Column:
    """Fixed left-to-right product of per-part probabilities (missing
    parts contribute the multiplicative identity) — one IEEE tree, the
    same associativity the oracle's literal a*b*...*h parse yields, so
    the segmentation probability is bit-identical without any decimal
    quantization inside the product."""
    out = F.coalesce(cols[0], F.lit(1.0))
    for c in cols[1:]:
        out = out * F.coalesce(c, F.lit(1.0))
    return out


def _uni_words(docs: DataFrame) -> DataFrame:
    """(w, cw, n): distinct UNI_WORD_MAX-truncated words with corpus
    counts — the ONE corpus-sized pass the unigram family makes."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select(F.substring("t", 1, UNI_WORD_MAX).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
        .withColumn("n", F.length("w").cast("int"))
    )


def _uni_seg_probs(segp: DataFrame, p: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., sp): per-segmentation probability — pivot the ≤8 part
    probabilities (MAX of one value per part, order-free) and multiply
    in fixed left-to-right IEEE order (identical to the oracle's
    literal a*b*...*h parse)."""
    terms = segp.join(F.broadcast(p), "piece")
    return terms.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("part_idx") == k, F.col("p"))).alias(f"p{k}")
            for k in range(1, UNI_WORD_MAX + 1)
        ]
    ).select(
        *keys,
        _uni_prod(
            [F.col(f"p{k}") for k in range(1, UNI_WORD_MAX + 1)]
        ).alias("sp"),
    )


def _unigram_tokenizer_build(
    spark: SparkSession, docs: DataFrame, prune: bool = True
) -> DataFrame:
    """The training dataflow behind :func:`q_text_unigram_tokenizer`
    (uncached): seed from substring counts, run UNI_EM_ROUNDS unrolled
    full-EM rounds over the composition lattice, emit the top-K report.

    Unigram-LM training (Kudo 2018) needs, per word, the total
    likelihood over ALL segmentations and each piece's expected count —
    normally a forward-backward DP over character positions. Words here
    are TRUNCATED to UNI_WORD_MAX chars (SentencePiece's own trainer
    caps piece/sentence lengths the same way), which makes the full
    segmentation lattice a 223-row driver-side CONSTANT — so the E-step
    becomes pure relational algebra: words ⨝ lattice ⨝ broadcast piece
    probabilities, one ≤8-column pivot per segmentation (MAX of a
    single value per part — order-free), a fixed-order IEEE product,
    and decimal(28,12) sums for the order-free totals. No per-position
    iteration, no UDF, no driver loop over data.

    Scale shape: the corpus contributes ONE token-count pass (the
    ``words`` rollup); everything after is vocabulary-bounded — |V|
    distinct truncated words × ~25 lattice part-rows. At 100 TB the
    vocab relation is millions of rows against a corpus of trillions of
    tokens; the EM rounds never touch the corpus again. Exactness: the
    within-segmentation product is one fixed IEEE tree; cross-
    segmentation and cross-word sums quantize terms to decimal(28,12)
    (the _dec12 idiom — sub-grid segmentations contribute exactly zero
    on BOTH engines, a documented part of the spec, not drift); each
    round's probabilities are ROUND(·, 9) at the exposure (the
    classifier's per-step sigmoid precedent); zero-likelihood words are
    guarded out of the E-step identically. Degenerate corpora: empty →
    empty report; the rich-get-richer EM dynamics (whole-word pieces
    absorbing mass from their single-char covers) are hand-pinned on a
    tiny fixture in tests/test_ngram_properties.py."""
    p, e, seeds, keep, _ = _unigram_model_build(spark, docs, prune=prune)
    return _unigram_report(p, e, seeds, keep)


def _unigram_model_build(
    spark: SparkSession, docs: DataFrame, prune: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The uncached trainer: returns (p, e, seeds, keep, prune_stats) —
    the FULL trained piece-probability relation over the seed domain
    (pruned pieces carry p = 0.0 exactly, so any segmentation touching
    one contributes zero likelihood downstream — the model
    ``text_unigram_segment`` applies), the final expected counts, the
    seed counts, the surviving vocabulary, and the per-prune-round
    diagnostics relation ``q_text_unigram_prune`` serves.

    Pruning (Kudo 2018 §3.2, ``prune=True`` is the production path;
    ``prune=False`` keeps the seed-EM-only model for the hand-pinned EM
    arithmetic tests): after the seed EM rounds, each UNI_PRUNE_TARGETS
    round (a) ranks multi-char pieces by LIKELIHOOD LOSS — the drop in
    corpus log-likelihood if the piece were removed and its occurrences
    re-encoded by their best surviving alternative, Kudo §3.2's actual
    criterion (upgraded from expected-count rank, VERDICT r13 item 3):
    ``loss = ed · (ln p − ln p_alt)`` where ``p_alt`` is the best
    MULTI-part segmentation of the piece's own character string under
    the current model (its sub-pieces are substrings of the same words,
    so they always live in the seed domain — the alternative relation
    is piece-lattice-bounded, never corpus-sized). A high-count piece
    whose sub-pieces are themselves near-free prunes EARLY (removing it
    costs almost nothing — exactly the redundancy expected-count rank
    cannot see), while a modest-count piece with no cheap alternative
    survives. Terms ride the dec9 idiom (ln is the one transcendental;
    quantizing to DECIMAL(28,9) makes the rank key cross-engine exact);
    sentinel losses ±1e15 pin the degenerate arms (p = 0 ⇒ already
    pruned, re-pruning is free and absorbing; p_alt = 0 ⇒ the piece is
    unencodable without itself, infinite loss, always keep); piece-ASC
    tiebreak totalizes the order. The round keeps the top budget plus
    ALL single-char pieces (required characters never
    prune, so every word keeps its all-singles segmentation and the
    E-step's pw > 0 guard never fires on a live word), (b) renormalizes
    the kept mass (ROUND(·, 9) at the exposure, the existing idiom),
    zeroing pruned pieces IN PLACE — the relation keeps the seed
    domain, so the inner piece-join in the E-step still matches every
    lattice part and a pruned part multiplies a hard 0.0 into the
    segmentation product — then (c) runs ONE re-EM round to
    redistribute the dropped mass (pruned pieces' expected counts come
    back exactly 0, so pruning is absorbing). Everything stays
    vocabulary-bounded; the corpus is still touched exactly once."""
    comps = F.broadcast(
        spark.createDataFrame(
            _uni_comp_rows(), "n int, seg string, part_idx int, j int, l int"
        )
    )
    words = _uni_words(docs).localCheckpoint(eager=True)
    # span enumeration (end i, length l): substring(w, i-l+1, l)
    spans = (
        words.select(
            "w", "cw", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i")
        )
        .select(
            "w",
            "cw",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(UNI_PIECE_MAX), F.col("i"))
                )
            ).alias("l"),
        )
        .select("cw", F.expr("substring(w, i - l + 1, l)").alias("piece"))
    )
    seeds = (
        spans.groupBy("piece")
        .agg(F.sum("cw").alias("seed_cnt"))
        .localCheckpoint(eager=True)
    )
    seed_tot = seeds.agg(F.sum("seed_cnt").alias("tot"))
    p = (
        seeds.crossJoin(F.broadcast(seed_tot))
        .select(
            "piece",
            F.round(
                F.col("seed_cnt").cast("double") / F.col("tot").cast("double"),
                9,
            ).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    # the lattice-with-pieces relation is identical every round — stage it
    segp = (
        words.join(comps, "n")
        .select(
            "w",
            "cw",
            "seg",
            "part_idx",
            F.expr("substring(w, j + 1, l)").alias("piece"),
        )
        .localCheckpoint(eager=True)
    )
    def em_round(
        p_in: DataFrame,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """One full EM round under ``p_in``: returns (e, p, pw) —
        expected counts, the renormalized next-round probabilities, and
        the per-word total likelihood relation (w, cw, pw) under
        ``p_in`` (the prune trajectory reads its corpus log-likelihood
        off this)."""
        sp = _uni_seg_probs(segp, p_in, ["w", "cw", "seg"])
        pw = sp.groupBy("w", "cw").agg(
            F.sum(_dec12(F.col("sp"))).cast("double").alias("pw")
        )
        contrib = (
            segp.select("w", "seg", "piece")
            .join(sp.select("w", "seg", "cw", "sp"), ["w", "seg"])
            .join(pw.select("w", "pw"), "w")
            .filter(F.col("pw") > 0)
            .select(
                "piece",
                _dec12(
                    F.col("cw").cast("double")
                    * F.col("sp")
                    / F.col("pw")
                ).alias("t"),
            )
        )
        e_out = contrib.groupBy("piece").agg(
            F.sum("t").alias("ed")
        ).localCheckpoint(eager=True)
        e_tot = e_out.agg(F.sum("ed").alias("etot"))
        p_out = (
            e_out.crossJoin(F.broadcast(e_tot))
            .select(
                "piece",
                F.round(
                    F.col("ed").cast("double") / F.col("etot").cast("double"),
                    9,
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        return e_out, p_out, pw

    e = None
    for _ in range(UNI_EM_ROUNDS):
        e, p, _pw = em_round(p)

    # keep defaults to the whole seed domain (prune=False path and the
    # pre-prune model); stats defaults to the empty trajectory
    keep = e.select("piece").localCheckpoint(eager=True)
    stats_schema = (
        "prune_round int, keep_budget int, n_kept_multi bigint,"
        " n_single bigint, n_pieces bigint, mass_kept double,"
        " ll_kept double"
    )
    stats_rounds: list[DataFrame] = []
    if prune:
        for ti, keep_k in enumerate(UNI_PRUNE_TARGETS, start=1):
            # alternative-encoding probability per candidate: the best
            # MULTI-part segmentation of the piece's own characters
            # under the current model — the piece string (≤ UNI_PIECE_MAX
            # chars) rides the same composition lattice as a word, with
            # the identity single-part row excluded (seg strings with a
            # comma are exactly the ≥2-part compositions)
            alt_segp = (
                e.filter(F.length("piece") > 1)
                .select(F.col("piece").alias("w"))
                .withColumn("n", F.length("w").cast("int"))
                .join(comps.filter(F.col("seg").contains(",")), "n")
                .select(
                    "w",
                    "seg",
                    "part_idx",
                    F.expr("substring(w, j + 1, l)").alias("piece"),
                )
            )
            p_alt = (
                _uni_seg_probs(alt_segp, p, ["w", "seg"])
                .groupBy("w")
                .agg(F.max("sp").alias("p_alt"))
                .withColumnRenamed("w", "piece")
            )
            loss = (
                e.filter(F.length("piece") > 1)
                .join(p, "piece")
                .join(p_alt, "piece")
                .select(
                    "piece",
                    F.when(
                        F.col("p") <= 0,
                        F.lit(-1e15).cast("decimal(28,9)"),
                    )
                    .when(
                        F.col("p_alt") <= 0,
                        F.lit(1e15).cast("decimal(28,9)"),
                    )
                    .otherwise(
                        dec9(
                            F.col("ed").cast("double")
                            * (F.log(F.col("p")) - F.log(F.col("p_alt")))
                        )
                    )
                    .alias("loss"),
                )
            )
            ranked = loss.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.col("loss").desc(), "piece")
                ),
            )
            keep = (
                ranked.filter(F.col("rn") <= keep_k)
                .select("piece")
                .unionByName(
                    e.filter(F.length("piece") == 1).select("piece")
                )
                .localCheckpoint(eager=True)
            )
            marked = e.join(
                keep.withColumn("kept", F.lit(1)), "piece", "left"
            )
            counts_row = marked.agg(
                F.lit(ti).cast("int").alias("prune_round"),
                F.lit(keep_k).cast("int").alias("keep_budget"),
                F.count(
                    F.when(
                        (F.length("piece") > 1)
                        & F.col("kept").isNotNull(),
                        1,
                    )
                ).alias("n_kept_multi"),
                F.count(
                    F.when(F.length("piece") == 1, 1)
                ).alias("n_single"),
                F.count("*").alias("n_pieces"),
                F.round(
                    F.sum(
                        F.when(F.col("kept").isNotNull(), F.col("ed"))
                    ).cast("double")
                    / F.sum("ed").cast("double"),
                    6,
                ).alias("mass_kept"),
            )
            kept_tot = marked.filter(F.col("kept").isNotNull()).agg(
                F.sum("ed").alias("ktot")
            )
            p = (
                marked.crossJoin(F.broadcast(kept_tot))
                .select(
                    "piece",
                    F.when(
                        F.col("kept").isNotNull(),
                        F.round(
                            F.col("ed").cast("double")
                            / F.col("ktot").cast("double"),
                            9,
                        ),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("p"),
                )
                .localCheckpoint(eager=True)
            )
            e, p, pw = em_round(p)
            # corpus log-likelihood under the PRUNED model — the number
            # Kudo's prune criterion trades against (a cheap prune
            # keeps ll_kept near the unpruned trajectory). pw is the
            # per-word total likelihood the re-EM round just computed;
            # ln is the one transcendental, so terms ride the dec9
            # idiom; the pw > 0 guard mirrors the E-step's (dead words
            # contribute no likelihood on either engine).
            ll_row = (
                pw.filter(F.col("pw") > 0)
                .agg(
                    F.round(
                        F.sum(
                            dec9(
                                F.col("cw").cast("double")
                                * F.log(F.col("pw"))
                            )
                        ).cast("double"),
                        6,
                    ).alias("ll_kept")
                )
            )
            stats_rounds.append(counts_row.crossJoin(F.broadcast(ll_row)))
    if stats_rounds:
        prune_stats = reduce(DataFrame.unionByName, stats_rounds)
    else:
        prune_stats = spark.createDataFrame([], stats_schema)
    return p, e, seeds, keep, prune_stats.localCheckpoint(eager=True)


def _unigram_report(
    p: DataFrame, e: DataFrame, seeds: DataFrame, keep: DataFrame
) -> DataFrame:
    """Top-K vocabulary report over the trained model relations,
    restricted to the SURVIVING vocabulary (pruned pieces carry p = 0
    and expected count 0 but stay in the model domain; the report is
    the deliverable vocab, so it ranks survivors only) —
    vocabulary-sized window, derived per call (the model tuple is the
    cached artifact)."""
    ranked = (
        e.join(keep.select("piece"), "piece")
        .join(p, "piece")
        .join(seeds, "piece")
        .select(
            "piece",
            "seed_cnt",
            F.col("ed").cast("double").alias("ex"),
            "p",
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("ex").desc(), F.col("piece"))
            ),
        )
        .filter(F.col("rank") <= UNI_VOCAB_K)
    )
    return ranked.select(
        F.col("rank").cast("int").alias("rank"),
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "seed_cnt",
        F.round("ex", 6).alias("expected_cnt"),
        F.col("p").alias("prob"),
    )


def unigram_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The trained unigram-LM model tuple (p, e, seeds, keep,
    prune_stats) for (session, sf) — trained once via
    :func:`staging.session_cached` (deterministic dataflow ⇒ the cached
    vocabulary-sized relations are bit-identical to a retrain; the
    oracles retrain per statement and keep proving it)."""
    return session_cached(
        spark,
        sf_dir,
        ("documents",),
        ("unigram_model", UNI_PIECE_MAX, UNI_WORD_MAX,
         UNI_EM_ROUNDS, UNI_PRUNE_TARGETS),
        lambda: _unigram_model_build(
            spark, spread(load(spark, sf_dir, "documents"), "doc_id")
        ),
    )


def q_text_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: unigram-LM tokenizer vocabulary trained on
    ``documents`` — the OTHER production tokenizer family beside the
    merge-based BPE quartet (``text_bpe_*``); the top-K report over the
    session-cached PRUNED model (:func:`unigram_model`, Kudo 2018 with
    the full prune/re-EM schedule as of r13)."""
    p, e, seeds, keep, _ = unigram_model(spark, sf_dir)
    return _unigram_report(p, e, seeds, keep)


def q_text_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune-trajectory diagnostics for the unigram-LM trainer: one row
    per Kudo prune round — multi-char keep budget, how many multi-char
    pieces actually survived, the never-pruned single-char count, the
    candidate-domain size, and the fraction of expected-count mass the
    kept vocabulary retains (the number that says the prune was safe:
    high mass_kept = the dropped tail was genuinely redundant).

    All inputs are the trainer's own vocabulary-bounded relations (the
    stats ride the session-cached model tuple); the oracle re-derives
    the identical trajectory from the unrolled CTE chain per statement,
    re-proving the cache and the prune ranking (exact-decimal expected
    counts, piece-ASC tiebreak) cross-engine on every grade."""
    _, _, _, _, prune_stats = unigram_model(spark, sf_dir)
    return prune_stats


def _uni_docw_best(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(docw, best): the (doc_id, truncated-word, count) rollup and the
    per-distinct-word Viterbi piece count (w, np) under the final
    pruned model — the two apply-side relations the segment query and
    both unigram card arms compose from."""
    p, *_ = unigram_model(spark, sf_dir)
    comps = F.broadcast(
        spark.createDataFrame(
            _uni_comp_rows(), "n int, seg string, part_idx int, j int, l int"
        )
    )
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    docw = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .select("doc_id", F.substring("t", 1, UNI_WORD_MAX).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("k"))
    )
    words = (
        docw.select("w").distinct().withColumn("n", F.length("w").cast("int"))
    )
    segp = words.join(comps, "n").select(
        "w", "seg", "part_idx", F.expr("substring(w, j + 1, l)").alias("piece")
    )
    sp = _uni_seg_probs(segp, p, ["w", "seg"])
    best = (
        sp.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("w").orderBy(F.col("sp").desc(), "seg")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "w",
            F.size(F.split(F.col("seg"), ",")).cast("long").alias("np"),
        )
    )
    return docw, best


def _uni_word_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w, k, np): every (doc, truncated-word) pair with its
    occurrence count and the Viterbi piece count under the final pruned
    model — the apply-side relation ``text_unigram_segment`` rolls up
    per doc and ``text_tokenizer_ab`` rolls up corpus-wide."""
    docw, best = _uni_docw_best(spark, sf_dir)
    return docw.join(best, "w")


def q_text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained unigram LM (the ``text_bpe_apply`` sibling):
    Viterbi-segment every (truncated) corpus word under the final piece
    probabilities and roll up per document — word count, piece count,
    fertility (pieces/word, THE tokenizer-quality number), and mean
    piece length.

    Viterbi over the same composition lattice the trainer uses: one
    more segmentation-probability pass under the FINAL model (the
    pivot/fixed-order-product machinery), then argmax per word =
    row_number over (sp DESC, seg ASC) — sp values are bit-identical
    doubles on both engines and the seg-string tiebreak is total, so
    the chosen segmentation is deterministic and cross-engine exact.
    Per-doc sums are pure integers; the two ratios are single IEEE
    divisions rounded at the end. Scale: the corpus contributes the
    (doc_id, word) rollup; the Viterbi side is vocabulary-bounded, and
    the rollup join keys on the word relation — corpus-sized relations
    never meet each other (the KN-LM shape). Docs with zero tokens
    have no words and drop from the output on both engines."""
    return (
        _uni_word_pieces(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_words"),
            F.sum(F.col("k") * F.col("np")).alias("n_pieces"),
            F.sum(F.col("k") * F.length("w").cast("long")).alias("nch"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            F.round(
                F.col("n_pieces").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.col("nch").cast("double") / F.col("n_pieces").cast("double"),
                6,
            ).alias("mean_piece_len"),
        )
    )


def q_text_tokenizer_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-family A/B evidence card: the corpus-trained BPE
    encoder vs the pruned unigram-LM, side by side — one row per
    family with the numbers a vocab-shipping decision reads (the
    ``text_classifier_bigram_eval`` decision-by-measurement pattern):
    covered word occurrences, emitted pieces, fertility (pieces/word,
    lower = cheaper sequence length), and chars/piece (higher = denser
    pieces).

    The two families deliberately keep their OWN word domains — BPE
    encodes alphanumeric whitespace words (its merge alphabet), the
    unigram model every whitespace token truncated to UNI_WORD_MAX —
    so the card exposes ``n_corpus_tokens`` beside each family's
    ``n_words``: coverage and fertility are BOTH part of the trade,
    and hiding the domain difference would bias the comparison.

    FAIR-DOMAIN arms (r14, VERDICT r13 item 6): two more rows
    (``bpe_shared`` / ``unigram_shared``) score BOTH trained models on
    the shared intersection domain — alphanumeric tokens truncated to
    UNI_WORD_MAX chars — so the card also carries a true
    apples-to-apples fertility/density comparison (identical
    ``n_words``/``n_chars``/``coverage`` by construction; only the
    piece counts differ). The models are NOT retrained: the unigram
    Viterbi relation already covers every truncated word, and the BPE
    merge table applies to the truncated strings via
    :func:`bpe_apply_merges` (encoding unseen strings is what a merge
    table is for). Cost: the unigram side rides the session-cached
    model; the BPE side is the same learn+segment pass
    ``text_bpe_fertility`` runs plus one vocabulary-sized apply fold.
    All rollups are corpus-token-bounded sums — nothing new at 100 TB."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    n_tok = docs.select(
        F.coalesce(F.sum(F.size(tokens(F.col("text")))), F.lit(0))
        .cast("bigint")
        .alias("n_corpus_tokens")
    )
    dw, words = _corpus_words(spark, sf_dir)
    seg_full, winners = _bpe_rounds(words)
    vocab = seg_full.select(
        "word",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).alias("n_syms"),
    )
    bpe = dw.join(vocab, "word").agg(
        F.lit("bpe").alias("tokenizer"),
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.length("word")).cast("bigint").alias("n_chars"),
        F.sum("n_syms").cast("bigint").alias("n_pieces"),
    )
    docw, best = _uni_docw_best(spark, sf_dir)
    uni = docw.join(best, "w").agg(
        F.lit("unigram").alias("tokenizer"),
        F.sum("k").cast("bigint").alias("n_words"),
        F.sum(F.col("k") * F.length("w").cast("long"))
        .cast("bigint")
        .alias("n_chars"),
        F.sum(F.col("k") * F.col("np")).cast("bigint").alias("n_pieces"),
    )
    # shared intersection domain: alnum tokens, truncated — feeds both
    # fair arms (vocabulary-bounded, checkpointed once)
    shared = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .filter(F.col("t").rlike(BPE_WORD_RE))
        .select(F.substring("t", 1, UNI_WORD_MAX).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("k"))
        .localCheckpoint()
    )
    sh_vocab = bpe_apply_merges(shared.select("w"), winners).select(
        "w",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).alias("n_syms"),
    )
    bpe_sh = shared.join(sh_vocab, "w").agg(
        F.lit("bpe_shared").alias("tokenizer"),
        F.sum("k").cast("bigint").alias("n_words"),
        F.sum(F.col("k") * F.length("w").cast("long"))
        .cast("bigint")
        .alias("n_chars"),
        F.sum(F.col("k") * F.col("n_syms")).cast("bigint").alias("n_pieces"),
    )
    uni_sh = shared.join(best, "w").agg(
        F.lit("unigram_shared").alias("tokenizer"),
        F.sum("k").cast("bigint").alias("n_words"),
        F.sum(F.col("k") * F.length("w").cast("long"))
        .cast("bigint")
        .alias("n_chars"),
        F.sum(F.col("k") * F.col("np")).cast("bigint").alias("n_pieces"),
    )
    return (
        bpe.unionByName(uni)
        .unionByName(bpe_sh)
        .unionByName(uni_sh)
        .crossJoin(F.broadcast(n_tok))
        .select(
            "tokenizer",
            "n_corpus_tokens",
            "n_words",
            "n_pieces",
            F.round(
                F.col("n_pieces").cast("double")
                / F.when(F.col("n_words") > 0, F.col("n_words")).cast(
                    "double"
                ),
                6,
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double")
                / F.when(F.col("n_pieces") > 0, F.col("n_pieces")).cast(
                    "double"
                ),
                6,
            ).alias("chars_per_piece"),
            F.round(
                F.col("n_words").cast("double")
                / F.when(
                    F.col("n_corpus_tokens") > 0, F.col("n_corpus_tokens")
                ).cast("double"),
                6,
            ).alias("coverage"),
        )
    )


def _uni_last_round() -> int:
    """Index of the FINAL EM round in the unrolled CTE chain: the seed
    rounds plus one re-EM round per prune round."""
    return UNI_EM_ROUNDS + len(UNI_PRUNE_TARGETS)


def _unigram_cte() -> str:
    """Unrolled-CTE mirror of the EM trainer through
    p{last}/e{last}/keep{lastT}: the identical composition lattice
    ships as a literal list of part-length strings (split + window
    prefix-sum recover (part_idx, j, l)); every reused CTE is AS
    MATERIALIZED (DuckDB re-inlines per reference otherwise). After the
    seed EM rounds, each prune round adds rank{t}/keep{t} (expected-
    count ranking of multi-char pieces, singles always kept), the
    renormalized-with-zeros pp{t}, and one re-EM round — the exact
    Spark schedule. Shared by the report, segment, and prune oracles."""
    seg_lits = ", ".join(
        "'" + ",".join(map(str, parts)) + "'" for parts in _uni_compositions()
    )
    prod = " * ".join(
        f"COALESCE(MAX(CASE WHEN part_idx = {k} THEN p END), 1.0)"
        for k in range(1, UNI_WORD_MAX + 1)
    )

    def em_round_sql(r: int, prev: str) -> str:
        return f"""
    terms{r} AS MATERIALIZED (
        SELECT s.w, s.cw, s.seg, s.part_idx, s.piece, p.p
        FROM segp s JOIN {prev} p USING (piece)),
    sp{r} AS MATERIALIZED (
        SELECT w, cw, seg, {prod} AS sp
        FROM terms{r} GROUP BY w, cw, seg),
    pw{r} AS MATERIALIZED (
        SELECT w, cw, CAST(SUM(CAST(sp AS DECIMAL(28,12))) AS DOUBLE) AS pw
        FROM sp{r} GROUP BY w, cw),
    e{r} AS MATERIALIZED (
        SELECT t.piece,
               SUM(CAST(CAST(s.cw AS DOUBLE) * s.sp / pw.pw
                        AS DECIMAL(28,12))) AS ed
        FROM terms{r} t
        JOIN sp{r} s ON t.w = s.w AND t.seg = s.seg
        JOIN pw{r} pw ON t.w = pw.w
        WHERE pw.pw > 0
        GROUP BY t.piece),
    p{r} AS MATERIALIZED (
        SELECT piece,
               ROUND(CAST(ed AS DOUBLE)
                     / CAST((SELECT SUM(ed) FROM e{r}) AS DOUBLE), 9) AS p
        FROM e{r})"""

    rounds = []
    prev = "p0"
    for r in range(1, UNI_EM_ROUNDS + 1):
        rounds.append(em_round_sql(r, prev))
        prev = f"p{r}"
    for t, keep_k in enumerate(UNI_PRUNE_TARGETS, start=1):
        r = UNI_EM_ROUNDS + t
        e_prev = f"e{r - 1}"
        p_prev = prev  # the model the candidates' ed was computed under
        rounds.append(f"""
    altsp{t} AS MATERIALIZED (
        SELECT a.w, a.seg, {prod} AS sp
        FROM (SELECT e.piece AS w, c.seg, c.part_idx, p.p
              FROM {e_prev} e
              JOIN comps c ON c.n = LEN(e.piece) AND c.seg LIKE '%,%'
              JOIN {p_prev} p ON p.piece = substr(e.piece, c.j + 1, c.l)
              WHERE LEN(e.piece) > 1) a
        GROUP BY a.w, a.seg),
    palt{t} AS MATERIALIZED (
        SELECT w AS piece, MAX(sp) AS p_alt FROM altsp{t} GROUP BY w),
    loss{t} AS MATERIALIZED (
        SELECT e.piece,
               CASE WHEN p.p <= 0 THEN CAST(-1e15 AS DECIMAL(28,9))
                    WHEN a.p_alt <= 0 THEN CAST(1e15 AS DECIMAL(28,9))
                    ELSE CAST(ROUND(CAST(e.ed AS DOUBLE)
                                    * (LN(p.p) - LN(a.p_alt)), 9)
                              AS DECIMAL(28,9))
               END AS loss
        FROM {e_prev} e
        JOIN {p_prev} p USING (piece)
        JOIN palt{t} a USING (piece)
        WHERE LEN(e.piece) > 1),
    rank{t} AS MATERIALIZED (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY loss DESC, piece) AS rn
        FROM loss{t}),
    keep{t} AS MATERIALIZED (
        SELECT piece FROM rank{t} WHERE rn <= {keep_k}
        UNION ALL
        SELECT piece FROM {e_prev} WHERE LEN(piece) = 1),
    pp{t} AS MATERIALIZED (
        SELECT e.piece,
               CASE WHEN k.piece IS NOT NULL THEN
                   ROUND(CAST(e.ed AS DOUBLE)
                         / CAST((SELECT SUM(e2.ed) FROM {e_prev} e2
                                 JOIN keep{t} k2 ON e2.piece = k2.piece)
                                AS DOUBLE), 9)
               ELSE 0.0 END AS p
        FROM {e_prev} e LEFT JOIN keep{t} k ON e.piece = k.piece)""")
        rounds.append(em_round_sql(r, f"pp{t}"))
        prev = f"p{r}"
    return f"""toks AS (
        SELECT unnest({SQL_TOKENS.format(col='text')}) AS t FROM documents),
    words AS MATERIALIZED (
        SELECT substr(t, 1, {UNI_WORD_MAX}) AS w,
               CAST(COUNT(*) AS BIGINT) AS cw,
               CAST(LEN(substr(t, 1, {UNI_WORD_MAX})) AS INTEGER) AS n
        FROM toks GROUP BY 1, 3),
    seglist AS (
        SELECT seg, string_split(seg, ',') AS parts
        FROM (SELECT UNNEST([{seg_lits}]) AS seg)),
    comps AS MATERIALIZED (
        SELECT CAST(list_aggregate(list_transform(parts, x -> CAST(x AS INTEGER)),
                    'sum') AS INTEGER) AS n,
               seg,
               CAST(i AS INTEGER) AS part_idx,
               CAST(SUM(CAST(parts[i] AS INTEGER))
                        OVER (PARTITION BY seg ORDER BY i)
                    - CAST(parts[i] AS INTEGER) AS INTEGER) AS j,
               CAST(parts[i] AS INTEGER) AS l
        FROM seglist, LATERAL UNNEST(generate_series(1, LEN(parts))) u(i)),
    spans AS (
        SELECT substr(w, i - l + 1, l) AS piece, cw
        FROM words,
             LATERAL UNNEST(generate_series(1, n)) e_(i),
             LATERAL UNNEST(generate_series(1, LEAST({UNI_PIECE_MAX}, i))) l_(l)),
    seeds AS MATERIALIZED (
        SELECT piece, CAST(SUM(cw) AS BIGINT) AS seed_cnt
        FROM spans GROUP BY piece),
    p0 AS MATERIALIZED (
        SELECT piece,
               ROUND(CAST(seed_cnt AS DOUBLE)
                     / CAST((SELECT SUM(seed_cnt) FROM seeds) AS DOUBLE), 9)
                   AS p
        FROM seeds),
    segp AS MATERIALIZED (
        SELECT w, cw, seg, part_idx, substr(w, j + 1, l) AS piece
        FROM words JOIN comps USING (n)),{",".join(rounds)}"""


def _unigram_sql() -> str:
    """Top-K report oracle: the trainer CTE chain (seed EM + prune/re-EM
    rounds) + the rank window over the SURVIVING vocabulary."""
    last = _uni_last_round()
    last_t = len(UNI_PRUNE_TARGETS)
    return f"""
    WITH {_unigram_cte()},
    ranked AS (
        SELECT piece, seed_cnt, CAST(ed AS DOUBLE) AS ex, p,
               CAST(ROW_NUMBER() OVER (ORDER BY CAST(ed AS DOUBLE) DESC,
                                       piece) AS INTEGER) AS rank
        FROM e{last} JOIN keep{last_t} USING (piece)
        JOIN p{last} USING (piece) JOIN seeds USING (piece))
    SELECT rank, piece, CAST(LEN(piece) AS INTEGER) AS piece_len, seed_cnt,
           ROUND(ex, 6) AS expected_cnt, p AS prob
    FROM ranked WHERE rank <= {UNI_VOCAB_K}
"""


def _unigram_prune_sql() -> str:
    """Prune-trajectory oracle: re-derives each round's keep counts and
    kept-mass ratio from the unrolled CTE chain."""
    stats = []
    for t, keep_k in enumerate(UNI_PRUNE_TARGETS, start=1):
        e_prev = f"e{UNI_EM_ROUNDS + t - 1}"
        r = UNI_EM_ROUNDS + t
        stats.append(f"""
    SELECT CAST({t} AS INTEGER) AS prune_round,
           CAST({keep_k} AS INTEGER) AS keep_budget,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rank{t}
            WHERE rn <= {keep_k}) AS n_kept_multi,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {e_prev}
            WHERE LEN(piece) = 1) AS n_single,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {e_prev}) AS n_pieces,
           ROUND(CAST((SELECT SUM(e2.ed) FROM {e_prev} e2
                       JOIN keep{t} k2 ON e2.piece = k2.piece) AS DOUBLE)
                 / CAST((SELECT SUM(ed) FROM {e_prev}) AS DOUBLE), 6)
               AS mass_kept,
           ROUND(CAST((SELECT SUM(CAST(ROUND(CAST(cw AS DOUBLE) * LN(pw), 9)
                                       AS DECIMAL(28,9)))
                       FROM pw{r} WHERE pw > 0) AS DOUBLE), 6) AS ll_kept""")
    return f"""
    WITH {_unigram_cte()}
    {" UNION ALL ".join(stats)}
"""


_SQL_NTOK = (
    "(SELECT CAST(COALESCE(SUM(len({toks})), 0) AS BIGINT)"
    " FROM documents)".format(toks=SQL_TOKENS.format(col="text"))
)


def _tokenizer_ab_sql() -> str:
    """A/B card oracle: each family's full chain runs in its own
    parenthesized WITH-subquery (the two chains share CTE names like
    ``words``, so they cannot live in one WITH), glued by UNION ALL.
    The r14 fair-domain arms ride INSIDE their family's WITH block (the
    shared-word relation + the t{{m}} merge-apply chain beside the BPE
    rounds; one extra rollup beside the unigram Viterbi), so neither
    trained model is re-derived."""
    chain, prev = _bpe_cte_chain()
    last = _uni_last_round()
    n_pieces_seq = (
        "len(string_split(substr(v.seq, 2, length(v.seq) - 2), '><'))"
    )
    prod = " * ".join(
        f"COALESCE(MAX(CASE WHEN part_idx = {k} THEN p END), 1.0)"
        for k in range(1, UNI_WORD_MAX + 1)
    )
    apply_rounds = "".join(
        f""",
        t{m} AS (
            -- b{m}'s weight column is also named w — qualify both sides
            SELECT t.w, replace(t.seq, b.pr, replace(b.pr, '><', '')) AS seq
            FROM t{m - 1} t, b{m} b)"""
        for m in range(1, BPE_MERGES + 1)
    )
    shared_ctes = f""",
        swords AS MATERIALIZED (
            SELECT substr(t.w, 1, {UNI_WORD_MAX}) AS w,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM (SELECT {SQL_TOKENS.format(col='text')} AS toks
                  FROM documents),
                 UNNEST(toks) t(w)
            WHERE regexp_full_match(t.w, '[a-z0-9]+')
            GROUP BY 1),
        t0 AS (
            SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq
            FROM swords){apply_rounds}"""
    return f"""
    SELECT * FROM (
        WITH {chain}{shared_ctes}
        SELECT 'bpe' AS tokenizer,
               {_SQL_NTOK} AS n_corpus_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(string_split(substr(v.seq, 2,
                                                length(v.seq) - 2),
                                         '><'))) AS BIGINT) AS n_pieces,
               ROUND(CAST(SUM(len(string_split(substr(v.seq, 2,
                                                      length(v.seq) - 2),
                                               '><'))) AS DOUBLE)
                     / CAST(CASE WHEN COUNT(*) > 0 THEN COUNT(*) END
                            AS DOUBLE), 6) AS fertility,
               ROUND(CAST(SUM(LENGTH(d.word)) AS DOUBLE)
                     / CAST(CASE WHEN SUM(len(string_split(
                               substr(v.seq, 2, length(v.seq) - 2),
                               '><'))) > 0
                            THEN SUM(len(string_split(
                               substr(v.seq, 2, length(v.seq) - 2),
                               '><'))) END AS DOUBLE), 6)
                   AS chars_per_piece,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / CAST(CASE WHEN {_SQL_NTOK} > 0
                            THEN {_SQL_NTOK} END AS DOUBLE), 6)
                   AS coverage
        FROM dw d JOIN {prev} v USING (word)
        UNION ALL
        SELECT 'bpe_shared' AS tokenizer,
               {_SQL_NTOK} AS n_corpus_tokens,
               CAST(SUM(s.k) AS BIGINT) AS n_words,
               CAST(SUM(s.k * {n_pieces_seq}) AS BIGINT) AS n_pieces,
               ROUND(CAST(SUM(s.k * {n_pieces_seq}) AS DOUBLE)
                     / CAST(CASE WHEN SUM(s.k) > 0 THEN SUM(s.k) END
                            AS DOUBLE), 6) AS fertility,
               ROUND(CAST(SUM(s.k * LENGTH(s.w)) AS DOUBLE)
                     / CAST(CASE WHEN SUM(s.k * {n_pieces_seq}) > 0
                            THEN SUM(s.k * {n_pieces_seq}) END
                            AS DOUBLE), 6) AS chars_per_piece,
               ROUND(CAST(SUM(s.k) AS DOUBLE)
                     / CAST(CASE WHEN {_SQL_NTOK} > 0
                            THEN {_SQL_NTOK} END AS DOUBLE), 6)
                   AS coverage
        FROM swords s JOIN t{BPE_MERGES} v USING (w))
    UNION ALL
    SELECT * FROM (
        WITH {_unigram_cte()},
        termsF AS MATERIALIZED (
            SELECT s.w, s.seg, s.part_idx, p.p
            FROM segp s JOIN p{last} p USING (piece)),
        spF AS MATERIALIZED (
            SELECT w, seg, {prod} AS sp
            FROM termsF GROUP BY w, seg),
        best AS MATERIALIZED (
            SELECT w, CAST(LEN(string_split(seg, ',')) AS BIGINT) AS np
            FROM (SELECT w, seg,
                         ROW_NUMBER() OVER (PARTITION BY w
                                            ORDER BY sp DESC, seg) AS rn
                  FROM spF)
            WHERE rn = 1),
        docw AS (
            SELECT doc_id, substr(t, 1, {UNI_WORD_MAX}) AS w,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM (SELECT doc_id,
                         unnest({SQL_TOKENS.format(col='text')}) AS t
                  FROM documents)
            GROUP BY 1, 2),
        sdocw AS (
            SELECT substr(t, 1, {UNI_WORD_MAX}) AS w,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM (SELECT unnest({SQL_TOKENS.format(col='text')}) AS t
                  FROM documents)
            WHERE regexp_full_match(t, '[a-z0-9]+')
            GROUP BY 1)
        SELECT 'unigram' AS tokenizer,
               {_SQL_NTOK} AS n_corpus_tokens,
               CAST(SUM(k) AS BIGINT) AS n_words,
               CAST(SUM(k * np) AS BIGINT) AS n_pieces,
               ROUND(CAST(SUM(k * np) AS DOUBLE)
                     / CAST(CASE WHEN SUM(k) > 0 THEN SUM(k) END
                            AS DOUBLE), 6) AS fertility,
               ROUND(CAST(SUM(k * LEN(w)) AS DOUBLE)
                     / CAST(CASE WHEN SUM(k * np) > 0 THEN SUM(k * np) END
                            AS DOUBLE), 6) AS chars_per_piece,
               ROUND(CAST(SUM(k) AS DOUBLE)
                     / CAST(CASE WHEN {_SQL_NTOK} > 0
                            THEN {_SQL_NTOK} END AS DOUBLE), 6)
                   AS coverage
        FROM docw JOIN best USING (w)
        UNION ALL
        SELECT 'unigram_shared' AS tokenizer,
               {_SQL_NTOK} AS n_corpus_tokens,
               CAST(SUM(k) AS BIGINT) AS n_words,
               CAST(SUM(k * np) AS BIGINT) AS n_pieces,
               ROUND(CAST(SUM(k * np) AS DOUBLE)
                     / CAST(CASE WHEN SUM(k) > 0 THEN SUM(k) END
                            AS DOUBLE), 6) AS fertility,
               ROUND(CAST(SUM(k * LEN(w)) AS DOUBLE)
                     / CAST(CASE WHEN SUM(k * np) > 0 THEN SUM(k * np) END
                            AS DOUBLE), 6) AS chars_per_piece,
               ROUND(CAST(SUM(k) AS DOUBLE)
                     / CAST(CASE WHEN {_SQL_NTOK} > 0
                            THEN {_SQL_NTOK} END AS DOUBLE), 6)
                   AS coverage
        FROM sdocw JOIN best USING (w))
"""


def _unigram_segment_sql() -> str:
    """Segment-application oracle: the trainer CTE chain, one more
    segmentation-probability pass under the FINAL (pruned) model,
    Viterbi argmax per word (max sp, seg-string ascending tiebreak),
    per-doc rollup."""
    last = _uni_last_round()
    prod = " * ".join(
        f"COALESCE(MAX(CASE WHEN part_idx = {k} THEN p END), 1.0)"
        for k in range(1, UNI_WORD_MAX + 1)
    )
    return f"""
    WITH {_unigram_cte()},
    termsF AS MATERIALIZED (
        SELECT s.w, s.seg, s.part_idx, p.p
        FROM segp s JOIN p{last} p USING (piece)),
    spF AS MATERIALIZED (
        SELECT w, seg, {prod} AS sp
        FROM termsF GROUP BY w, seg),
    best AS MATERIALIZED (
        SELECT w, CAST(LEN(string_split(seg, ',')) AS BIGINT) AS np
        FROM (SELECT w, seg,
                     ROW_NUMBER() OVER (PARTITION BY w
                                        ORDER BY sp DESC, seg) AS rn
              FROM spF)
        WHERE rn = 1),
    docw AS (
        SELECT doc_id, substr(t, 1, {UNI_WORD_MAX}) AS w,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS t
              FROM documents)
        GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_words,
           CAST(SUM(k * np) AS BIGINT) AS n_pieces,
           ROUND(CAST(SUM(k * np) AS DOUBLE)
                 / CAST(SUM(k) AS DOUBLE), 6) AS fertility,
           ROUND(CAST(SUM(k * LEN(w)) AS DOUBLE)
                 / CAST(SUM(k * np) AS DOUBLE), 6) AS mean_piece_len
    FROM docw JOIN best USING (w)
    GROUP BY doc_id
"""

QUERIES = {
    "text_bpe_pairs": Query(q_text_bpe_pairs, SQL_TEXT_BPE_PAIRS),
    "text_bpe_apply": Query(q_text_bpe_apply, SQL_TEXT_BPE_APPLY),
    "text_bpe_vocab": Query(q_text_bpe_vocab, SQL_TEXT_BPE_VOCAB),
    "text_bpe_fertility": Query(q_text_bpe_fertility, SQL_TEXT_BPE_FERTILITY),
    "text_unigram_tokenizer": Query(q_text_unigram_tokenizer, _unigram_sql()),
    "text_unigram_prune": Query(q_text_unigram_prune, _unigram_prune_sql()),
    "text_unigram_segment": Query(
        q_text_unigram_segment, _unigram_segment_sql()
    ),
    "text_tokenizer_ab": Query(q_text_tokenizer_ab, _tokenizer_ab_sql()),
}
