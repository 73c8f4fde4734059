"""Trained text-quality classifier family (fastText-style hashed
linear gate): train/serve/eval/weights/calibration plus the corpus
quality report — split out of ``operators.text`` for navigability
(VERDICT r12 item 7; pure move, no semantic change, registry names
unchanged). The heuristic teacher (``quality_features``) and the raw
quality gate stay in ``operators.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec12 as _dec12
from ..registry import Query
from ..staging import session_cached
from ..tables import load, load_meta, spread
from .dedup import SQL_TOKENS, tokens
from .text import _STOP_SQL, quality_features

# ---------------------------------------------------------------------------
# trained quality classifier (fastText-style hashed linear gate)
# ---------------------------------------------------------------------------

CLF_DIM = 32  # hashed feature buckets (the vocab-independence knob)
CLF_STEPS = 10  # unrolled full-batch gradient steps
CLF_ETA = 1.0  # learning rate
CLF_GATE = 0.625  # teacher threshold on the heuristic quality_score
CLF_HOLDOUT_MOD = 5  # doc_id % 5 == 0 → held-out eval split


def classifier_scores(
    spark: SparkSession, sf_dir: str, bigrams: bool = False
) -> DataFrame:
    """Trained text-quality classifier: the fastText-style supervised
    gate CCNet/LLaMA-class pipelines run beside the LM perplexity filter
    (Joulin et al. 2016; DCLM's fastText gate), distilled here from the
    engine's own heuristic teacher. Labels: ``quality_score >=
    {CLF_GATE}`` from :func:`quality_features` (the Gopher-ish
    composite the corpus already computes — the classifier learns to
    reproduce the expensive gate from cheap hashed features, which is
    exactly the production distillation story: train on a labeled
    slice, serve a linear scorer). Features: hashed bag-of-tokens
    (portable md5 hash → ``CLF_DIM`` buckets, the
    :func:`q_text_feature_hashing` trick — Weinberger et al. 2009),
    per-doc term frequencies, plus a capped length feature and a bias;
    all z-scored against TRAIN-split statistics. Model: logistic
    regression trained by ``CLF_STEPS`` unrolled full-batch gradient
    steps in the decimal-exact dataflow algebra ``similarity_kmeans``
    proved — every order-sensitive float sum is quantized to
    decimal(28,12) first, the sigmoid (the one transcendental) is
    rounded to 9 decimals on both engines, so the trained weights and
    every score hash-match the unrolled-CTE oracle bit-for-bit.

    Split: ``doc_id % {CLF_HOLDOUT_MOD} == 0`` is held out of training
    and standardization; scores are emitted for ALL docs with the
    split flag, and ``q_text_classifier_eval`` grades the held-out
    slice (AUC ≈ 0.86-0.90 at sf0.001-0.01; the separation test in
    tests/test_vector_text_ops.py pins teacher-positive docs scoring
    above teacher-negative on held-out data).

    100 TB shape: the dense feature grid is |docs|·(CLF_DIM+2) narrow
    rows; each gradient step is one broadcast join against the
    (CLF_DIM+2)-row weight relation plus two hash aggregations over the
    grid (map-side partials), K a fixed constant — the classic
    distributed-LR shape (MLlib's LogisticRegression aggregator)
    expressed in pure DataFrame algebra. Serving is a narrow
    scan + broadcast join. The feature grid is localCheckpointed
    because 2K+1 plan references would otherwise re-derive it; the
    per-step weight relation is (CLF_DIM+2) rows, checkpointed to keep
    the unrolled lineage linear instead of 2^K. Raising corpus size
    changes nothing; raising vocabulary only argues for a larger
    CLF_DIM (the hashing trick's whole point). An empty train split
    degrades totally: weights stay zero, every score is 0.5.
    """
    feats, w, _ = classifier_model(spark, sf_dir, bigrams=bigrams)
    scored = (
        feats.join(F.broadcast(w), "j")
        .groupBy("doc_id", "y", "held_out")
        .agg(F.sum(_dec12(F.col("wt") * F.col("z"))).cast("double").alias("zs"))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("zs"))), 6)
    return scored.select(
        "doc_id",
        F.col("y").cast("int").alias("teacher_label"),
        "held_out",
        score.alias("score"),
        (score >= 0.5).alias("predicted_quality"),
    )


def classifier_model(
    spark: SparkSession, sf_dir: str, bigrams: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The trained model for (session, sf): returns (feats, weights,
    stats) — the z-scored dense feature grid (checkpointed), the
    trained (CLF_DIM+2)-row weight relation after CLF_STEPS unrolled
    gradient steps, and the (j, mu, sd) standardization stats (part of
    the deployment artifact: a served model is weights ⊕ stats).

    Trained ONCE per (session, sf, hyperparams) via
    :func:`staging.session_cached` — the FAISS train/add/search
    separation the IVF/PQ family already applies: the training
    dataflow is deterministic and decimal-exact, so a cached relation
    is bit-identical to a retrained one (the DuckDB oracles, which
    retrain per statement, still hash-match), while retraining per
    query call would put ~20 sequential tiny-job constants in front of
    EVERY classifier query (measured ~9.6 s at sf0.1 — scheduling
    floor, not data). The cache key carries the documents fingerprint
    and every hyperparameter; the bench's fresh-process runs still pay
    one full training per session (honesty note in BASELINE.md)."""
    return session_cached(
        spark,
        sf_dir,
        ("documents",),
        ("clf_model", CLF_DIM, CLF_STEPS, CLF_ETA, CLF_GATE,
         CLF_HOLDOUT_MOD, bigrams),
        lambda: _classifier_model_build(
            spark,
            spread(load(spark, sf_dir, "documents"), "doc_id"),
            bigrams=bigrams,
        ),
    )


def _classifier_model_build(
    spark: SparkSession, docs: DataFrame, bigrams: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The training dataflow behind :func:`classifier_model` (uncached).

    ``bigrams=True`` (the r12 A/B arm — fastText's accuracy story is
    word n-grams, Joulin et al. 2016) adds CLF_DIM hashed-BIGRAM share
    buckets beside the CLF_DIM unigram ones: the feature grid grows by
    a constant (j ∈ [CLF_DIM, 2·CLF_DIM) = bigram buckets, each
    family's counts normalized by ITS family total), and everything
    downstream — z-scoring, the unrolled GD steps, serving — is already
    dimension-generic. Measured held-out AUC at sf0.001/0.01 decides
    which variant serves (recorded in BASELINE.md r12)."""
    from .dedup import word_ngrams
    from .llmdata import _portable_hash

    dim = 2 * CLF_DIM if bigrams else CLF_DIM
    lab = quality_features(docs).select(
        "doc_id",
        F.coalesce(F.col("quality_score") >= CLF_GATE, F.lit(False))
        .cast("double")
        .alias("y"),
        (F.col("doc_id") % CLF_HOLDOUT_MOD == 0).alias("held_out"),
    )
    cnt = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy(
            "doc_id",
            F.pmod(_portable_hash(F.col("t")), F.lit(CLF_DIM))
            .cast("int")
            .alias("j"),
        )
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    if bigrams:
        cnt_bi = (
            docs.select(
                "doc_id",
                F.explode(word_ngrams(tokens(F.col("text")), 2)).alias("t"),
            )
            .groupBy(
                "doc_id",
                (
                    F.pmod(_portable_hash(F.col("t")), F.lit(CLF_DIM))
                    + F.lit(CLF_DIM)
                )
                .cast("int")
                .alias("j"),
            )
            .agg(F.count("*").alias("c"))
        )
        tot_bi = cnt_bi.groupBy("doc_id").agg(F.sum("c").alias("n2"))
        cnt = cnt.unionByName(cnt_bi)
    idx = spark.range(dim + 2).select(F.col("id").cast("int").alias("j"))
    base = lab.join(tot, "doc_id", "left").select(
        "doc_id", "y", "held_out", F.coalesce("n", F.lit(0)).alias("n")
    )
    if bigrams:
        base = base.join(tot_bi, "doc_id", "left").select(
            "doc_id", "y", "held_out", "n",
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    if bigrams:
        x = (
            F.when(F.col("j") == dim + 1, F.lit(1.0))
            .when(
                F.col("j") == dim,
                F.least(F.col("n").cast("double") / F.lit(32.0), F.lit(1.0)),
            )
            .when(
                (F.col("j") >= CLF_DIM) & (F.col("n2") > 0),
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n2").cast("double"),
            )
            .when(
                (F.col("j") < CLF_DIM) & (F.col("n") > 0),
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n").cast("double"),
            )
            .otherwise(F.lit(0.0))
        )
    else:
        # the served unigram grid — expression kept byte-identical to
        # the r11 form (and to the oracle CTE) on purpose
        x = (
            F.when(F.col("j") == dim + 1, F.lit(1.0))
            .when(
                F.col("j") == dim,
                F.least(F.col("n").cast("double") / F.lit(32.0), F.lit(1.0)),
            )
            .when(
                F.col("n") > 0,
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n").cast("double"),
            )
            .otherwise(F.lit(0.0))
        )
    grid = (
        base.crossJoin(F.broadcast(idx))
        .join(cnt, ["doc_id", "j"], "left")
        .select("doc_id", "y", "held_out", "j", x.alias("x"))
    )
    stats = (
        grid.filter(~F.col("held_out"))
        .groupBy("j")
        .agg(
            (F.sum(_dec12(F.col("x"))).cast("double") / F.count("*")).alias("mu"),
            (
                F.sum(_dec12(F.col("x") * F.col("x"))).cast("double")
                / F.count("*")
            ).alias("msq"),
        )
        .select(
            "j",
            "mu",
            F.sqrt(
                F.greatest(F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0))
            ).alias("sd"),
        )
        .localCheckpoint(eager=True)
    )
    feats = (
        grid.join(F.broadcast(stats), "j", "left")
        .select(
            "doc_id",
            "y",
            "held_out",
            "j",
            # z needs NO quantization: x/mu/sd are identical doubles on
            # both engines (exact decimal sums + one IEEE tree + exact
            # sqrt), and subtraction/division are correctly rounded — so
            # z is bit-identical by construction
            F.when(F.col("j") == dim + 1, F.lit(1.0))
            .when(F.coalesce(F.col("sd"), F.lit(0.0)) == 0.0, F.lit(0.0))
            .otherwise((F.col("x") - F.col("mu")) / F.col("sd"))
            .alias("z"),
        )
        .localCheckpoint(eager=True)
    )
    ntr = base.filter(~F.col("held_out")).agg(F.count("*").alias("n_tr"))
    ftr = feats.filter(~F.col("held_out"))
    w = idx.select("j", F.lit(0.0).alias("wt")).localCheckpoint(eager=True)
    for _ in range(CLF_STEPS):
        zdoc = (
            ftr.join(F.broadcast(w), "j")
            .groupBy("doc_id", "y")
            .agg(F.sum(_dec12(F.col("wt") * F.col("z"))).cast("double").alias("zs"))
            .select(
                "doc_id",
                F.round(
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("zs"))), 9
                ).alias("s"),
            )
        )
        grad = (
            ftr.join(zdoc, "doc_id")
            .groupBy("j")
            .agg(
                F.sum(_dec12((F.col("s") - F.col("y")) * F.col("z")))
                .cast("double")
                .alias("g")
            )
        )
        w = (
            w.join(grad, "j", "left")
            .crossJoin(F.broadcast(ntr))
            .select(
                "j",
                # NO quantization on the weight itself: every input
                # (prev weight, decimal-exact gradient sum, n_tr) is an
                # identical double on both engines and -,*,/ are
                # correctly rounded, so the update is bit-identical by
                # construction. Quantizing here is what BROKE parity:
                # gradients are exact 1e-12 multiples over n_tr=400, so
                # weights land exactly ON half-ties of any decimal grid,
                # and Spark (shortest-repr HALF_UP) vs DuckDB (exact
                # binary expansion) resolve such ties differently (r11
                # finding via the text_classifier_weights oracle).
                (
                    F.col("wt")
                    - F.lit(CLF_ETA)
                    * F.when(
                        F.col("n_tr") > 0,
                        F.coalesce(F.col("g"), F.lit(0.0))
                        / F.col("n_tr").cast("double"),
                    ).otherwise(F.lit(0.0))
                ).alias("wt"),
            )
            .localCheckpoint(eager=True)
        )
    return feats, w, stats


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: trained hashed-linear quality gate over
    ``documents``."""
    return classifier_scores(spark, sf_dir)


def q_text_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the trained gate (the calibration half of
    an ML-ops eval — AUC says the RANKING is right, calibration says
    the PROBABILITIES are): held-out scores bucketed into deciles, per
    bucket the count, observed positive rate, and mean predicted score
    — the two columns a reliability diagram plots against each other.
    A well-calibrated gate has frac_pos ≈ mean_score per bin; a
    miscalibrated one needs Platt/temperature scaling before its
    scores can be thresholded as probabilities.

    Exactness: bin = floor(score·10) clamped to 9 (score is a 6-decimal
    double, the ·10 product exact-ish and both engines compute the
    identical tree); counts integer; mean score a decimal(28,6) sum.
    One pass over the held-out slice, ≤10 output rows — model-sized.
    """
    sc = classifier_scores(spark, sf_dir).filter(F.col("held_out"))
    bin_ = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    return (
        sc.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("teacher_label").cast("long").alias("n_pos"),
            (
                F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("ms"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("frac_pos"),
            F.round(F.col("ms"), 6).alias("mean_score"),
        )
    )


SQL_TEXT_CLASSIFIER_CALIBRATION = f"""
    WITH {{cte}},
    sc AS (
        SELECT doc_id, CAST(y AS INTEGER) AS teacher_label,
               ROUND(1.0 / (1.0 + EXP(-zs)), 6) AS score
        FROM scored WHERE held_out)
    SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(teacher_label) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(teacher_label) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score
    FROM sc
    GROUP BY 1
"""


def q_corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation dashboard: how the TRAINED gate and the
    HEURISTIC gate each judge every stratum, and how often they agree —
    the relation a curation run reviews before committing a filter
    change (a stratum where the two gates disagree wholesale is where
    the distillation broke or the heuristic is wrong). Per lang:
    doc count, mean trained score, trained pass rate, heuristic pass
    rate (the same teacher rule the classifier distilled), and the
    agreement rate between the two verdicts.

    One broadcast join of the scored relation back onto the narrow
    (doc_id, lang) projection, one stratum-sized rollup; all counts
    integer, the mean a decimal(28,6) sum, ratios one IEEE tree
    rounded at the end. NULL langs group as their own bucket
    identically on both engines (the nullable-lang contract).
    """
    sc = classifier_scores(spark, sf_dir)
    langs = load_meta(spark, sf_dir, "documents", "doc_id", "lang")
    joined = sc.join(langs, "doc_id")
    agree = F.col("predicted_quality") == (F.col("teacher_label") == 1)
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("ms"),
            F.sum(F.col("predicted_quality").cast("int"))
            .cast("long")
            .alias("n_pass_trained"),
            F.sum("teacher_label").cast("long").alias("n_pass_teacher"),
            F.sum(agree.cast("int")).cast("long").alias("n_agree"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("ms"), 6).alias("mean_score"),
            F.round(
                F.col("n_pass_trained").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("pass_rate_trained"),
            F.round(
                F.col("n_pass_teacher").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("pass_rate_teacher"),
            F.round(
                F.col("n_agree").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("agreement"),
        )
    )


SQL_CORPUS_QUALITY_REPORT = f"""
    WITH {{cte}},
    sc AS (
        SELECT doc_id, CAST(y AS INTEGER) AS teacher_label,
               ROUND(1.0 / (1.0 + EXP(-zs)), 6) AS score,
               ROUND(1.0 / (1.0 + EXP(-zs)), 6) >= 0.5 AS predicted_quality
        FROM scored)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(CASE WHEN predicted_quality THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS pass_rate_trained,
           ROUND(CAST(SUM(teacher_label) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate_teacher,
           ROUND(CAST(SUM(CASE WHEN predicted_quality = (teacher_label = 1)
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS agreement
    FROM sc JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
    GROUP BY d.lang
"""


def q_text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation card for the trained quality classifier: one
    row with split sizes, tie-averaged-rank AUC (Mann–Whitney U — exact
    integer/rank arithmetic, so fully hash-checkable), class mean
    scores, and thresholded accuracy — all on the held-out slice only
    (the train numbers would flatter any classifier).

    The rank window is a single global sort over the HELD-OUT slice —
    a bounded eval relation by construction (1/{CLF_HOLDOUT_MOD} of the
    audit sample; at 100 TB the eval slice is itself a sample, never
    the corpus), the same bounded-relation argument every *_eval query
    in the registry makes. Means are decimal-quantized sums; the AUC
    closing expression is one IEEE tree rounded at the end.
    """
    return _classifier_eval_card(
        classifier_scores(spark, sf_dir).localCheckpoint(eager=True)
    )


def q_text_classifier_bigram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out eval card for the hashed-BIGRAM feature variant (r12
    A/B, VERDICT r11 item 7): fastText's accuracy story is word
    n-grams, so the variant trains the same 10-step gate over
    2·CLF_DIM buckets (unigram + bigram families, each normalized by
    its own total) and this card grades it on the identical held-out
    slice — same schema as ``text_classifier_eval`` so the two rows
    diff directly. MEASURED RESULT (recorded in BASELINE.md r12): the
    bigram variant LOSES on this corpus — AUC 0.867 vs 0.900 at
    sf0.001, 0.821 vs 0.860 at sf0.01 (word-soup text gives bigrams no
    signal beyond their unigrams, and the fixed 10 steps spread over
    2× dimensions) — so the UNIGRAM gate stays the served model and
    this query is the standing evidence for that choice, re-graded
    every round."""
    return _classifier_eval_card(
        classifier_scores(spark, sf_dir, bigrams=True).localCheckpoint(
            eager=True
        )
    )


def _classifier_eval_card(sc: DataFrame) -> DataFrame:
    """The shared held-out eval-card dataflow over a scored relation."""
    totals = sc.agg(
        F.sum(F.when(~F.col("held_out"), 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("held_out"), 1).otherwise(0))
        .cast("long")
        .alias("n_holdout"),
    )
    ho = sc.filter(F.col("held_out"))
    r = F.rank().over(Window.orderBy("score")) + (
        F.count("*").over(Window.partitionBy("score")) - 1
    ) / F.lit(2.0)
    ranked = ho.select(
        "teacher_label", "score", "predicted_quality", r.alias("r")
    )
    pos = F.col("teacher_label") == 1
    agg = ranked.agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(~pos, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(F.when(pos, F.col("r"))).alias("sum_r_pos"),
        F.sum(F.when(pos, F.col("score").cast("decimal(28,6)")))
        .cast("double")
        .alias("sum_s_pos"),
        F.sum(F.when(~pos, F.col("score").cast("decimal(28,6)")))
        .cast("double")
        .alias("sum_s_neg"),
        F.sum(
            F.when(pos == F.col("predicted_quality"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )
    out = totals.crossJoin(F.broadcast(agg))
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    return out.select(
        "n_train",
        "n_holdout",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (F.col("sum_r_pos") - npos * (npos + 1) / 2) / (npos * nneg), 6
            ),
        ).alias("auc"),
        F.when(F.col("n_pos") > 0, F.round(F.col("sum_s_pos") / npos, 6)).alias(
            "mean_score_pos"
        ),
        F.when(F.col("n_neg") > 0, F.round(F.col("sum_s_neg") / nneg, 6)).alias(
            "mean_score_neg"
        ),
        F.when(
            F.col("n_holdout") > 0,
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_holdout").cast("double"),
                6,
            ),
        ).alias("accuracy"),
    )


def q_text_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model card for the trained quality gate: every learned weight
    beside the hashing-trick collision profile behind it (how many
    distinct terms share the bucket, their occurrence mass, an example
    term) — the interpretability artifact a curation pipeline ships
    with the gate, and the number that tells you whether a heavy weight
    means one dominant term or an unlucky collision (the
    ``text_feature_hashing`` audit, now joined to consequences).

    The weight relation is CLF_DIM+2 rows; the profile is one
    vocabulary-sized rollup folded to ≤CLF_DIM rows — both model-sized,
    so the whole query costs one corpus token pass beyond training.
    Weights are emitted ROUND(·, 9): the interior weights stay raw
    doubles (quantizing them breaks parity — gradients are exact 1e-12
    multiples over n_tr, so any decimal grid lands exactly on half-ties
    that Spark's shortest-repr HALF_UP and DuckDB's exact-binary
    rounding resolve differently), and DuckDB's decimal→double cast is
    not correctly rounded, so raw weights carry a few-ulp engine drift —
    the standard house answer is to quantize at the EXPOSURE, where the
    drift is far below the rounding grain (both r11 findings, caught by
    this query's oracle).
    """
    from .llmdata import _portable_hash

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    _, w, _ = classifier_model(spark, sf_dir)
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occur"))
    )
    prof = counts.groupBy(
        F.pmod(_portable_hash(F.col("token")), F.lit(CLF_DIM))
        .cast("int")
        .alias("j")
    ).agg(
        F.count("*").alias("n_terms"),
        F.sum("n_occur").alias("n_occurrences"),
        F.min("token").alias("first_term"),
    )
    kind = (
        F.when(F.col("j") == CLF_DIM + 1, F.lit("bias"))
        .when(F.col("j") == CLF_DIM, F.lit("length"))
        .otherwise(F.lit("bucket"))
    )
    return w.join(F.broadcast(prof), "j", "left").select(
        "j",
        kind.alias("kind"),
        # + 0.0 normalizes IEEE negative zero: a tiny negative weight
        # rounds to -0.0 through DuckDB's float ROUND but +0.0 through
        # Spark's decimal round — the KN-LM r10 pathology, resurfaced
        # here by the fuzz net's degenerate corpora
        (F.round(F.col("wt"), 9) + F.lit(0.0)).alias("weight"),
        "n_terms",
        "n_occurrences",
        "first_term",
    )


def _clf_grid_cte(bigrams: bool) -> str:
    """The cnt/tot/base/grid CTE block of :func:`_clf_cte` — the only
    part the bigram A/B arm changes (a second hashed count family over
    word bigrams at j ∈ [CLF_DIM, 2·CLF_DIM), each family normalized
    by its OWN total; the unigram text is byte-identical to r11)."""
    toks = SQL_TOKENS.format(col="text")
    dim = 2 * CLF_DIM if bigrams else CLF_DIM
    D, B = dim, dim + 1
    if not bigrams:
        return f"""cnt AS MATERIALIZED (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % {D}
                    AS INTEGER) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, UNNEST({toks}) AS tok FROM documents)
        GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id),
    idx AS (SELECT CAST(UNNEST(RANGE({D + 2})) AS INTEGER) AS j),
    base AS (
        SELECT lab.doc_id, y, held_out, COALESCE(n, 0) AS n
        FROM lab LEFT JOIN tot ON lab.doc_id = tot.doc_id),
    grid AS MATERIALIZED (
        SELECT base.doc_id, y, held_out, idx.j,
               CASE WHEN idx.j = {B} THEN 1.0
                    WHEN idx.j = {D}
                        THEN LEAST(CAST(n AS DOUBLE) / 32.0, 1.0)
                    WHEN n > 0
                        THEN CAST(COALESCE(c, 0) AS DOUBLE)
                             / CAST(n AS DOUBLE)
                    ELSE 0.0 END AS x
        FROM base CROSS JOIN idx
        LEFT JOIN cnt ON cnt.doc_id = base.doc_id AND cnt.j = idx.j),"""
    return f"""cnt AS MATERIALIZED (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % {CLF_DIM}
                    AS INTEGER) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, UNNEST({toks}) AS tok FROM documents)
        GROUP BY 1, 2),
    cntb AS MATERIALIZED (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % {CLF_DIM}
                    + {CLF_DIM} AS INTEGER) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
                     UNNEST([w[i] || ' ' || w[i + 1]
                             FOR i IN RANGE(1, GREATEST(LEN(w), 1))]) AS tok
              FROM (SELECT doc_id, {toks} AS w FROM documents))
        GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id),
    totb AS (SELECT doc_id, SUM(c) AS n2 FROM cntb GROUP BY doc_id),
    cnta AS MATERIALIZED (
        SELECT * FROM cnt UNION ALL SELECT * FROM cntb),
    idx AS (SELECT CAST(UNNEST(RANGE({D + 2})) AS INTEGER) AS j),
    base AS (
        SELECT lab.doc_id, y, held_out, COALESCE(n, 0) AS n,
               COALESCE(n2, 0) AS n2
        FROM lab LEFT JOIN tot ON lab.doc_id = tot.doc_id
                 LEFT JOIN totb ON lab.doc_id = totb.doc_id),
    grid AS MATERIALIZED (
        SELECT base.doc_id, y, held_out, idx.j,
               CASE WHEN idx.j = {B} THEN 1.0
                    WHEN idx.j = {D}
                        THEN LEAST(CAST(n AS DOUBLE) / 32.0, 1.0)
                    WHEN idx.j >= {CLF_DIM} AND n2 > 0
                        THEN CAST(COALESCE(c, 0) AS DOUBLE)
                             / CAST(n2 AS DOUBLE)
                    WHEN idx.j < {CLF_DIM} AND n > 0
                        THEN CAST(COALESCE(c, 0) AS DOUBLE)
                             / CAST(n AS DOUBLE)
                    ELSE 0.0 END AS x
        FROM base CROSS JOIN idx
        LEFT JOIN cnta ON cnta.doc_id = base.doc_id AND cnta.j = idx.j),"""


def _clf_cte(bigrams: bool = False) -> str:
    """Unrolled-CTE mirror of :func:`classifier_scores` through the
    ``scored`` relation — every reused CTE AS MATERIALIZED (DuckDB
    re-inlines per reference otherwise; the probe-sweep precedent).
    ``bigrams=True`` mirrors the r12 A/B arm: a second hashed count
    family over word bigrams at j ∈ [CLF_DIM, 2·CLF_DIM), each family
    share-normalized by its own total, grid width 2·CLF_DIM+2."""
    dim = 2 * CLF_DIM if bigrams else CLF_DIM
    D, B = dim, dim + 1
    toks = SQL_TOKENS.format(col="text")
    rounds = []
    prev = "w0"
    for i in range(1, CLF_STEPS + 1):
        rounds.append(f"""
    z{i} AS MATERIALIZED (
        SELECT doc_id,
               ROUND(1.0 / (1.0 + EXP(-zs)), 9) AS s
        FROM (SELECT f.doc_id,
                     CAST(SUM(CAST(w.wt * f.z AS DECIMAL(28,12)))
                          AS DOUBLE) AS zs
              FROM ftr f JOIN {prev} w USING (j) GROUP BY f.doc_id)),
    g{i} AS MATERIALIZED (
        SELECT f.j,
               CAST(SUM(CAST((z.s - f.y) * f.z AS DECIMAL(28,12)))
                    AS DOUBLE) AS g
        FROM ftr f JOIN z{i} z USING (doc_id) GROUP BY f.j),
    w{i} AS MATERIALIZED (
        SELECT w.j,
               w.wt - {CLF_ETA} * (CASE WHEN ntr.n_tr > 0
                   THEN COALESCE(g.g, 0.0) / CAST(ntr.n_tr AS DOUBLE)
                   ELSE 0.0 END) AS wt
        FROM {prev} w LEFT JOIN g{i} g USING (j) CROSS JOIN ntr)""")
        prev = f"w{i}"
    return f"""
    lab AS (
        SELECT doc_id,
               CASE WHEN qs IS NOT NULL AND qs >= {CLF_GATE}
                    THEN 1.0 ELSE 0.0 END AS y,
               doc_id % {CLF_HOLDOUT_MOD} = 0 AS held_out
        FROM (SELECT doc_id,
                     CASE WHEN LEN(toks) > 0 AND n_chars > 0 THEN
                         ROUND((alpha_chars * 1.0 / n_chars) * 0.5
                               + (LEN(LIST_FILTER(toks,
                                      t -> t IN ({_STOP_SQL}))) * 1.0
                                  / LEN(toks)) * 0.3
                               + LEAST(LEN(toks) / 32.0, 1.0) * 0.2, 6)
                     END AS qs
              FROM (SELECT doc_id, {toks} AS toks,
                           LENGTH(text) AS n_chars,
                           LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g'))
                               AS alpha_chars
                    FROM documents))),
    {_clf_grid_cte(bigrams)}
    stats AS (
        SELECT j, mu, SQRT(GREATEST(msq - mu * mu, 0.0)) AS sd
        FROM (SELECT j,
                     CAST(SUM(CAST(x AS DECIMAL(28,12)))
                          AS DOUBLE) / COUNT(*) AS mu,
                     CAST(SUM(CAST(x * x AS DECIMAL(28,12)))
                          AS DOUBLE) / COUNT(*) AS msq
              FROM grid WHERE NOT held_out GROUP BY j)),
    feats AS MATERIALIZED (
        SELECT doc_id, y, held_out, grid.j,
               CASE WHEN grid.j = {B} THEN 1.0
                    WHEN COALESCE(sd, 0.0) = 0.0 THEN 0.0
                    ELSE (x - mu) / sd END AS z
        FROM grid LEFT JOIN stats ON grid.j = stats.j),
    ftr AS MATERIALIZED (SELECT * FROM feats WHERE NOT held_out),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tr
            FROM base WHERE NOT held_out),
    w0 AS (SELECT j, 0.0 AS wt FROM idx),{",".join(rounds)},
    scored AS MATERIALIZED (
        SELECT f.doc_id, f.y, f.held_out,
               CAST(SUM(CAST(w.wt * f.z AS DECIMAL(28,12)))
                    AS DOUBLE) AS zs
        FROM feats f JOIN {prev} w USING (j)
        GROUP BY f.doc_id, f.y, f.held_out)"""


SQL_TEXT_QUALITY_CLASSIFIER = f"""
    WITH {_clf_cte()}
    SELECT doc_id, CAST(y AS INTEGER) AS teacher_label, held_out,
           ROUND(1.0 / (1.0 + EXP(-zs)), 6) AS score,
           ROUND(1.0 / (1.0 + EXP(-zs)), 6) >= 0.5 AS predicted_quality
    FROM scored
"""

def _clf_eval_sql(bigrams: bool = False) -> str:
    return f"""
    WITH {_clf_cte(bigrams)},
    sc AS MATERIALIZED (
        SELECT doc_id, CAST(y AS INTEGER) AS teacher_label, held_out,
               ROUND(1.0 / (1.0 + EXP(-zs)), 6) AS score,
               ROUND(1.0 / (1.0 + EXP(-zs)), 6) >= 0.5 AS predicted_quality
        FROM scored),
    totals AS (
        SELECT CAST(SUM(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train,
               CAST(SUM(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_holdout
        FROM sc),
    ranked AS (
        SELECT teacher_label, score, predicted_quality,
               RANK() OVER (ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS r
        FROM sc WHERE held_out),
    agg AS (
        SELECT CAST(SUM(CASE WHEN teacher_label = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN teacher_label <> 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neg,
               SUM(CASE WHEN teacher_label = 1 THEN r END) AS sum_r_pos,
               CAST(SUM(CASE WHEN teacher_label = 1
                        THEN CAST(score AS DECIMAL(28,6)) END) AS DOUBLE)
                   AS sum_s_pos,
               CAST(SUM(CASE WHEN teacher_label <> 1
                        THEN CAST(score AS DECIMAL(28,6)) END) AS DOUBLE)
                   AS sum_s_neg,
               CAST(SUM(CASE WHEN (teacher_label = 1) = predicted_quality
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM ranked)
    SELECT n_train, n_holdout, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               ROUND((sum_r_pos - CAST(n_pos AS DOUBLE)
                      * (CAST(n_pos AS DOUBLE) + 1) / 2)
                     / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
           END AS auc,
           CASE WHEN n_pos > 0
                THEN ROUND(sum_s_pos / CAST(n_pos AS DOUBLE), 6) END
               AS mean_score_pos,
           CASE WHEN n_neg > 0
                THEN ROUND(sum_s_neg / CAST(n_neg AS DOUBLE), 6) END
               AS mean_score_neg,
           CASE WHEN n_holdout > 0
                THEN ROUND(CAST(n_correct AS DOUBLE)
                           / CAST(n_holdout AS DOUBLE), 6) END
               AS accuracy
    FROM totals CROSS JOIN agg
"""


SQL_TEXT_CLASSIFIER_EVAL = _clf_eval_sql()


SQL_TEXT_CLASSIFIER_WEIGHTS = f"""
    WITH {_clf_cte()},
    counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occur
        FROM (SELECT UNNEST({SQL_TOKENS.format(col="text")}) AS token
              FROM documents)
        GROUP BY token),
    prof AS (
        SELECT CAST(('0x' || substr(md5(token), 1, 15))::BIGINT % {CLF_DIM}
                    AS INTEGER) AS j,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(n_occur) AS BIGINT) AS n_occurrences,
               MIN(token) AS first_term
        FROM counts GROUP BY 1)
    SELECT w.j,
           CASE WHEN w.j = {CLF_DIM + 1} THEN 'bias'
                WHEN w.j = {CLF_DIM} THEN 'length'
                ELSE 'bucket' END AS kind,
           ROUND(w.wt, 9) + 0.0 AS weight, n_terms, n_occurrences, first_term
    FROM w{CLF_STEPS} w LEFT JOIN prof ON w.j = prof.j
"""


QUERIES = {
    "text_quality_classifier": Query(
        q_text_quality_classifier, SQL_TEXT_QUALITY_CLASSIFIER
    ),
    "text_classifier_eval": Query(q_text_classifier_eval, SQL_TEXT_CLASSIFIER_EVAL),
    "text_classifier_bigram_eval": Query(
        q_text_classifier_bigram_eval, _clf_eval_sql(bigrams=True)
    ),
    "text_classifier_weights": Query(
        q_text_classifier_weights, SQL_TEXT_CLASSIFIER_WEIGHTS
    ),
    "text_classifier_calibration": Query(
        q_text_classifier_calibration,
        SQL_TEXT_CLASSIFIER_CALIBRATION.format(cte=_clf_cte()),
    ),
    "corpus_quality_report": Query(
        q_corpus_quality_report,
        SQL_CORPUS_QUALITY_REPORT.format(cte=_clf_cte()),
    ),
}
