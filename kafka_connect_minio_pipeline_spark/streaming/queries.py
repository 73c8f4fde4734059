"""Registered streaming queries: each builder's streaming plan is executed
with availableNow into a memory sink, producing the batch DataFrame the
driver hashes. The oracle compares against batch-equivalent SQL — the
point being that a correct streaming window/dedup/join must converge to
exactly the batch answer once all data is processed."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.llmdata import SQL_DECONTAMINATE as SQL_DECONTAMINATE_STREAM
from ..operators.text import SQL_TEXT_QUALITY
from ..pipeline.profile import TRANSFORM_SQL
from ..registry import Query
from . import windows as W
from .pipeline import streaming_profile_pipeline
from .runner import run_available_now, run_to_memory, source_bytes
from ..scratch import scratch_dir, scratch_dir_keyed


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.tumbling_counts(spark, sf_dir),
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.sliding_counts(spark, sf_dir),
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.session_counts(spark, sf_dir),
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.dedup_within_watermark(spark, sf_dir),
        output_mode="append",
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState tracker, collapsed to final per-key state.

    Update mode emits one row per key per micro-batch; every tracked stat
    is monotone, so max() over the emissions is the final state no matter
    how the file source batched — which reduces this to the batch GROUP BY
    the oracle runs. last_us goes back to a timestamp JVM-side (micros
    round-trip through the state store is exact)."""
    from pyspark.sql import functions as F

    # NOT on the data-derived state-partition rule: applyInPandasWithState
    # ships every row to Python, so partitions here are Python COMPUTE
    # parallelism, not just state-store count — the scaled count measured
    # slower on mins twice (2.13 vs 1.83 and 1.98 vs 1.75 s, see
    # OPTIMIZATION_r15.md §Item 6); behavior stays as in r14
    updates = run_to_memory(W.stateful_user_tracker(spark, sf_dir), "update")
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
        F.expr("timestamp_micros(max(last_us))").cast("timestamp_ntz").alias("last_ts"),
    )


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.stream_static_join(spark, sf_dir),
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        W.stream_stream_join(spark, sf_dir),
        output_mode="append",
        input_bytes=source_bytes(sf_dir, "events"),
    )


def q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_profile_pipeline(spark, sf_dir)


def q_stream_pipeline_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same end-to-end pipeline through the foreachBatch sink (the
    arbitrary-target escape hatch, idempotent per batch_id) instead of
    the native file sink — both must converge to the identical batch
    answer, so both share TRANSFORM_SQL as oracle."""
    from ..pipeline.profile import profile_transform, users_from_customer
    from ..sources.files import stream_table
    from .pipeline import SINK_SCHEMA
    from .runner import run_foreach_batch

    src = stream_table(spark, sf_dir, "customer")
    transformed = profile_transform(users_from_customer(src))
    out = scratch_dir("kcm_fb_sink_")
    run_foreach_batch(transformed, out)
    cols = [f.name for f in SINK_SCHEMA.fields]
    # explicit schema: an empty source writes no batch files, and a bare
    # read of the empty sink dir would fail schema inference
    return spark.read.schema(SINK_SCHEMA).parquet(out).select(*cols)


QUALITY_THRESHOLD = 0.5


def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-curation quality gate as a STREAM: documents arrive as
    files (standing in for a Kafka topic), the stateless feature/score
    projection from ``operators.text.quality_features`` applies unchanged
    to the streaming frame, and only passing docs reach the sink — the
    continuous-ingest form of corpus cleaning. Append mode, no state, so
    the converged result is exactly the batch filter the oracle runs."""
    from ..operators.text import quality_features
    from ..sources.files import stream_table

    src = stream_table(spark, sf_dir, "documents")
    gated = quality_features(src).filter(
        F.col("quality_score") >= QUALITY_THRESHOLD
    )
    return run_to_memory(gated, output_mode="append")


SQL_STREAM_QUALITY = f"""
    SELECT * FROM ({SQL_TEXT_QUALITY}) WHERE quality_score >= {QUALITY_THRESHOLD}
"""


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers as MERGEABLE streaming state.

    The register relation (register → max rank) is exactly the shape
    Structured Streaming aggregates incrementally: per-register MAX is
    associative and order-free, so the streaming groupBy maintains 512
    rows of state regardless of stream length — the canonical
    "distinct-count over an unbounded stream in O(1) memory" design.
    The finisher (exact-integer indicator sum → estimate) runs on the
    final registers and must equal the batch sketch bit-for-bit, which
    the shared oracle SQL asserts."""
    from ..operators.sketches import _hll_register_ranks, hll_estimate_from_registers
    from ..sources.files import stream_table

    ev = stream_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    regs = run_to_memory(
        _hll_register_ranks(ev, "k"),
        "complete",
        input_bytes=source_bytes(sf_dir, "events"),
    )
    return hll_estimate_from_registers(regs, "events.user_id")


def _sql_stream_hll() -> str:
    from ..operators.sketches import _hll_sql

    return _hll_sql("events", "user_id", "events.user_id", with_exact=False)


def q_stream_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Python decode inside a STREAM: the multimodal
    feature kernel (mapInPandas) applied per micro-batch — the shape of
    a production ingest that decodes/filters media as it lands. The
    kernel is stateless, so streaming output must equal the batch
    operator exactly (shared oracle)."""
    from ..operators.multimodal import extract_features
    from ..sources.files import stream_table

    src = stream_table(spark, sf_dir, "documents")
    binary = src.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return run_to_memory(extract_features(binary), output_mode="append")


def _sql_stream_multimodal() -> str:
    from ..operators.multimodal import SQL_MULTIMODAL_FEATURES

    return SQL_MULTIMODAL_FEATURES


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: struct-extrema argmin/argmax are associative
    and order-free, so the streaming aggregation state is one struct per
    bar and the result must equal the batch operator however the source
    batches (shared oracle)."""
    from ..operators.timeseries import ohlc
    from ..sources.files import stream_table

    return run_to_memory(
        ohlc(stream_table(spark, sf_dir, "events")),
        input_bytes=source_bytes(sf_dir, "events"),
    )


def _sql_stream_ohlc() -> str:
    from ..operators.timeseries import SQL_TS_OHLC

    return SQL_TS_OHLC


def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch as streaming state: the d×w counter matrix is
    elementwise-ADD mergeable, so the streaming groupBy on (row, idx)
    maintains at most d·w rows of state for any stream length — the
    heavy-hitters twin of ``stream_hll``'s max-merge registers. The
    finisher (estimate vs truth) runs on the final counters and must
    equal the batch sketch exactly (shared oracle)."""
    from ..operators.sketches import cms_finish, cms_hashed, cms_sketch
    from ..sources.files import stream_table
    from ..tables import load

    sketch = run_to_memory(
        cms_sketch(cms_hashed(stream_table(spark, sf_dir, "events"))),
        input_bytes=source_bytes(sf_dir, "events"),
    )
    return cms_finish(sketch, cms_hashed(load(spark, sf_dir, "events")))


def _sql_stream_countmin() -> str:
    from ..operators.sketches import SQL_SKETCH_COUNTMIN

    return SQL_SKETCH_COUNTMIN


def versioned_merge(cur: DataFrame, changes: DataFrame) -> DataFrame:
    """One MERGE step of the versioned tombstone store: per key, the
    winner of (current snapshot row ∪ incoming changes) by the change's
    ordering key — associative and order-free across batch splits, which
    is exactly what makes the streaming fixpoint equal the batch MERGE
    regardless of how (or in what order) the changelog was batched.
    Base rows carry NULL ord (coalesced below any real change)."""
    return (
        cur.unionByName(changes)
        .groupBy("key")
        .agg(
            F.max_by(
                F.struct("val", "ord_us", "ord_id", "tomb"),
                F.struct(
                    F.coalesce(F.col("ord_us"), F.lit(-1)),
                    F.coalesce(F.col("ord_id"), F.lit(-1)),
                ),
            ).alias("w")
        )
        .select("key", "w.val", "w.ord_us", "w.ord_id", "w.tomb")
    )


def q_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: the events changelog streams into a
    VERSIONED, TOMBSTONED snapshot of the customer table via
    foreachBatch — the Delta-style "MERGE INTO per micro-batch" pattern
    for targets with no native upsert sink.

    Order robustness is the design point: every snapshot row carries the
    ordering key (event ts, event id) of the change that produced it,
    and each batch's winner per key is max_by over (current row ∪ batch
    changes) on that key — so HOWEVER the source splits into
    micro-batches, even out of event-time order, the fixpoint equals the
    batch MERGE (the version-column trick real CDC stores use; contrast
    ts_markov, which is order-SENSITIVE and therefore deliberately not
    offered as a stream). Deletes persist as tombstones so an
    out-of-order earlier event can't resurrect a deleted key.
    Idempotency: batch N always derives version N from version N-1
    (never from its own possibly-partial prior attempt) and overwrites —
    re-delivery rewrites identical data. The final read filters
    tombstones; oracle = the batch cdc_merge's (key, final_val).
    """
    import os

    from ..operators.joins import CDC_KEY_SHIFT
    from ..sources.files import stream_table
    from ..tables import load

    root = scratch_dir("kcm_cdc_snap_")
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("val"),
        F.lit(None).cast("long").alias("ord_us"),
        F.lit(None).cast("long").alias("ord_id"),
        F.lit(False).alias("tomb"),
    )
    base.write.mode("overwrite").parquet(f"{root}/v_base")
    snap_schema = "key bigint, val decimal(18,2), ord_us bigint, ord_id bigint, tomb boolean"

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        versions = [
            int(d.split("_")[1])
            for d in os.listdir(root)
            if d.startswith("v_") and d != "v_base" and int(d.split("_")[1]) < batch_id
        ]
        prev = f"{root}/v_{max(versions)}" if versions else f"{root}/v_base"
        cur = spark.read.schema(snap_schema).parquet(prev)
        changes = bdf.select(
            (F.col("user_id") + F.lit(CDC_KEY_SHIFT)).alias("key"),
            F.col("value").cast("decimal(18,2)").alias("val"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ord_us"),
            F.col("event_id").alias("ord_id"),
            (F.col("event_type") == "error").alias("tomb"),
        )
        versioned_merge(cur, changes).write.mode("overwrite").parquet(
            f"{root}/v_{batch_id}"
        )

    src = stream_table(spark, sf_dir, "events")
    run_available_now(src.writeStream.foreachBatch(merge_batch), 300)
    versions = [
        int(d.split("_")[1])
        for d in os.listdir(root)
        if d.startswith("v_") and d != "v_base"
    ]
    final = f"{root}/v_{max(versions)}" if versions else f"{root}/v_base"
    return (
        spark.read.schema(snap_schema)
        .parquet(final)
        .filter(~F.col("tomb"))
        .select("key", F.col("val").cast("double").alias("final_val"))
    )


def _sql_stream_cdc_merge() -> str:
    from ..operators.joins import SQL_JOIN_CDC_MERGE

    return f"SELECT key, final_val FROM ({SQL_JOIN_CDC_MERGE})"


def q_stream_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity monitoring as a STREAM: the per-(user,
    event_type) counts are monotone mergeable state (a plain streaming
    groupBy in complete mode — state is O(users × types), independent of
    stream length), and the entropy finisher runs on the final counts.
    Must equal the batch agg_entropy exactly (shared oracle) however the
    source batches — counts are order-free, which is precisely why
    entropy streams and a transition matrix (order-sensitive) doesn't."""
    from ..operators.aggregates import entropy_close
    from ..sources.files import stream_table

    ev = stream_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = run_to_memory(
        ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n")),
        "complete",
        input_bytes=source_bytes(sf_dir, "events"),
    )
    return entropy_close(counts, "user_id")


def _sql_stream_entropy() -> str:
    from ..operators.aggregates import SQL_AGG_ENTROPY

    return SQL_AGG_ENTROPY


STREAM_TOPK = 3


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-K: per 1-hour tumbling window, the {STREAM_TOPK}
    busiest event types by count — the trending-items query.

    Shape: rank-within-window is not expressible inside a streaming
    aggregation (no window functions over streaming state), and the
    production pattern is exactly this two-layer split: the STREAM
    maintains the per-(window, type) counts as mergeable state (the
    tumbling aggregation, watermark-evictable), and the serving layer
    ranks the materialized counts — Flink/Kafka-Streams deployments do
    the same with a gold-table view. Here the rank runs over the
    complete-mode sink relation; availableNow replay makes the result
    equal the batch oracle regardless of micro-batching. The rank input
    is |windows|·|types| pre-aggregated rows, never raw events."""
    from pyspark.sql import Window

    counts = run_to_memory(
        W.tumbling_counts(spark, sf_dir),
        input_bytes=source_bytes(sf_dir, "events"),
    )
    w = Window.partitionBy("w_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= STREAM_TOPK)
        .select("w_start", "w_end", "rank", "event_type", "n_events")
    )


SQL_STREAM_TOPK = f"""
    WITH counts AS ({W.SQL_TUMBLING}),
    ranked AS (
        SELECT w_start, w_end, event_type, n_events,
               CAST(ROW_NUMBER() OVER (PARTITION BY w_start
                    ORDER BY n_events DESC, event_type) AS INTEGER) AS rank
        FROM counts)
    SELECT w_start, w_end, rank, event_type, n_events
    FROM ranked WHERE rank <= {STREAM_TOPK}
"""


def q_stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup gating as a STREAM (the batch keep decision
    of ``dedup_minhash_lsh``, VERDICT r10 item 4): documents arrive as
    files, each micro-batch computes its shingle sets / signatures /
    band-bucket claims STATELESSLY (the exact batch expressions, via the
    shared :func:`dedup.minhash_band_rows`), and the only streaming
    state is the per-bucket MIN(doc_id) — associative, order-free,
    bounded by the number of occupied buckets (≤ N_BANDS · docs, and at
    100 TB the watermark-evicted variant caps it at the dedup horizon).
    A document is a near-dup iff any of its buckets was claimed by a
    smaller-id document — the keep-one-representative rule, which is
    order-free and therefore converges to the identical batch answer no
    matter how the source was micro-batched (the ``stream_hll``/
    ``stream_countmin`` mergeable-state pattern; the finisher joins the
    final bucket minima back against the batch claim relation, exactly
    as ``cms_finish`` does). Candidate-level gating on purpose: the
    exact-Jaccard verify needs prior documents' shingle arrays — i.e.
    unbounded state — so the streaming gate applies the LSH bucket
    decision and the batch pipeline verifies downstream; the whole
    pipeline stays integer-exact, so the oracle hash-checks it fully."""
    from ..operators.dedup import (
        _doc_shingle_sets,
        minhash_band_rows,
        shingle_sets_of,
    )
    from ..sources.files import stream_table

    claims = minhash_band_rows(shingle_sets_of(stream_table(spark, sf_dir, "documents")))
    minima = run_to_memory(
        claims.groupBy("band_idx", "band_val").agg(
            F.min("doc_id").alias("first_doc")
        ),
        input_bytes=source_bytes(sf_dir, "documents"),
    )
    batch_claims = minhash_band_rows(_doc_shingle_sets(spark, sf_dir))
    return (
        batch_claims.join(minima, ["band_idx", "band_val"])
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup_bands")
        )
        .select(
            "doc_id",
            "n_dup_bands",
            (F.col("n_dup_bands") > 0).alias("is_near_dup"),
        )
    )


def _sql_stream_dedup_minhash() -> str:
    from ..operators.dedup import minhash_band_rows_sql

    return f"""
    WITH {minhash_band_rows_sql()},
    mins AS (
        SELECT band_idx, band_val, MIN(doc_id) AS first_doc
        FROM brows GROUP BY band_idx, band_val)
    SELECT doc_id,
           CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_bands,
           CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) > 0 AS is_near_dup
    FROM brows JOIN mins USING (band_idx, band_val)
    GROUP BY doc_id
"""


def q_stream_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED quality gate served on a stream — the train-batch /
    serve-stream split every production classifier deployment runs
    (``stream_quality`` is this query's heuristic twin). The model
    trains once on the batch table (``text_classifier.classifier_model``, the
    session-cached relation the batch scorer serves); the STREAM side
    maintains exactly the mergeable state the other streaming sketches
    do: per-(doc, feature-bucket) token COUNTS from an explode +
    streaming groupBy — associative integer sums, codegen throughout,
    bounded per doc by CLF_DIM and in production evicted by watermark
    once a doc's horizon passes. The finisher scores the final counts
    relationally: dense grid ⨝ broadcast (weights ⊕ stats) model,
    z-score, decimal(28,12) dot terms, per-doc exact decimal sum,
    sigmoid — the IDENTICAL algebra the batch scorer runs, so the
    availableNow result equals the batch gate bit-for-bit (shared
    oracle). Only passing docs are returned.

    Rejected alternative (measured): scoring each arriving row with a
    fused 32-bucket filter-count expression — higher-order functions
    are CodegenFallback, the lambda forest evaluates interpreted and
    re-derives the hash array per bucket reference (no CSE across HOF
    lambdas), ~13 ms/doc/core ≈ 100× the relational form. A per-doc
    zero-count sentinel row keeps zero-token documents in the state so
    they score exactly as the batch gate scores them."""
    from ..operators.dedup import tokens
    from ..operators.llmdata import _portable_hash
    from ..functions.exact import dec12 as _dec12
    from ..operators.text_classifier import CLF_DIM, classifier_model
    from ..sources.files import stream_table

    _, w, stats = classifier_model(spark, sf_dir)
    src = stream_table(spark, sf_dir, "documents")
    exploded = src.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).select(
        "doc_id",
        F.pmod(_portable_hash(F.col("t")), F.lit(CLF_DIM)).cast("int").alias("j"),
    )
    # sentinel j = -1 keeps zero-token docs in the aggregation state
    sentinel = src.select("doc_id", F.lit(-1).cast("int").alias("j"))
    sink = run_to_memory(
        exploded.unionByName(sentinel).groupBy("doc_id", "j").count(),
        input_bytes=source_bytes(sf_dir, "documents"),
    )
    # stage the converged counts to scratch parquet: the finisher reads
    # the relation twice (per-doc totals + the grid join) and a
    # memory-sink view cannot self-join (shared attribute ids defeat
    # Spark's disambiguation — r11 finding); two independent scans of
    # the staged file get fresh attributes, and at a real deployment
    # this is the written feature-counts table anyway. Keyed per
    # (session, sf) and rewritten with overwrite on every call: the
    # work repeats, the DIRECTORY does not accumulate (ADVICE r11 —
    # the fuzz nets and bench passes invoke this many times per
    # long-lived session).
    d = scratch_dir_keyed(
        "kcm_sqc_counts_", spark.sparkContext.applicationId, id(spark), sf_dir
    )
    sink.write.mode("overwrite").parquet(d)
    counts = spark.read.parquet(d)
    spine = spark.read.parquet(d).groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("j") >= 0, F.col("count")).otherwise(F.lit(0))
        ).alias("n")
    )
    idx = spark.range(CLF_DIM + 2).select(F.col("id").cast("int").alias("j"))
    grid = (
        spine.crossJoin(F.broadcast(idx))
        .join(counts, ["doc_id", "j"], "left")
        .select(
            "doc_id",
            "j",
            F.when(F.col("j") == CLF_DIM + 1, F.lit(1.0))
            .when(
                F.col("j") == CLF_DIM,
                F.least(F.col("n").cast("double") / F.lit(32.0), F.lit(1.0)),
            )
            .when(
                F.col("n") > 0,
                F.coalesce(F.col("count"), F.lit(0)).cast("double")
                / F.col("n").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("x"),
        )
    )
    model = F.broadcast(w.join(stats, "j", "left"))
    z = (
        F.when(F.col("j") == CLF_DIM + 1, F.lit(1.0))
        .when(F.coalesce(F.col("sd"), F.lit(0.0)) == 0.0, F.lit(0.0))
        .otherwise((F.col("x") - F.col("mu")) / F.col("sd"))
    )
    scored = (
        grid.join(model, "j")
        .select("doc_id", _dec12(F.col("wt") * z).alias("term"))
        .groupBy("doc_id")
        .agg(F.sum("term").cast("double").alias("zs"))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("zs"))), 6)
    return scored.select("doc_id", score.alias("score")).filter(
        F.col("score") >= 0.5
    )


def _sql_stream_quality_classifier() -> str:
    from ..operators.text_classifier import _clf_cte

    return f"""
    WITH {_clf_cte()}
    SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-zs)), 6) AS score
    FROM scored
    WHERE ROUND(1.0 / (1.0 + EXP(-zs)), 6) >= 0.5
"""


def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination as an INGEST-TIME stream gate — the
    overlap check a production intake runs on every arriving document
    before it enters the training corpus (the streaming twin of
    ``llm_decontaminate``, VERDICT r12 item 5).

    Deployment-artifact pattern (the ``stream_quality_classifier``
    split): the benchmark's distinct 8-gram set is a BOUNDED static
    relation (benchmarks are KBs-to-MBs against a 100 TB corpus) built
    once from the batch table and broadcast into the stream-static
    join. Each micro-batch is STATELESS per document — a doc's grams
    come entirely from its own text column (array_distinct makes the
    per-doc gram set unique within the row, so no cross-batch distinct
    is needed) — and the only streaming state is the per-doc matched-
    gram COUNT: associative integer sums over (doc, gram) rows that are
    already distinct, bounded by contaminated-doc count, order-free ⇒
    availableNow converges to the batch answer bit-for-bit, which is
    why this query shares ``SQL_DECONTAMINATE`` with the batch operator
    verbatim. The finisher left-joins the corpus spine so clean and
    zero-gram docs report an explicit 0/false."""
    from ..operators.dedup import tokens, word_ngrams
    from ..operators.llmdata import BENCH_MOD, DECON_N
    from ..sources.files import stream_table
    from ..tables import load, spread

    grams = F.array_distinct(
        word_ngrams(tokens(F.col("text")), DECON_N)
    )
    batch_docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_grams = (
        batch_docs.filter(is_bench)
        .select(F.explode(grams).alias("s"))
        .distinct()
    )
    src = stream_table(spark, sf_dir, "documents").filter(~is_bench)
    staged = src.select("doc_id", F.explode(grams).alias("s"))
    counts = run_to_memory(
        staged.join(F.broadcast(bench_grams), "s")
        .groupBy("doc_id")
        .count(),
        input_bytes=source_bytes(sf_dir, "documents"),
    )
    return (
        batch_docs.filter(~is_bench)
        .select("doc_id", "lang")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("count"), F.lit(0).cast("long")).alias(
                "n_shared"
            ),
            (F.coalesce(F.col("count"), F.lit(0).cast("long")) > 0).alias(
                "contaminated"
            ),
        )
    )


QUERIES = {
    "stream_dedup_minhash": Query(
        q_stream_dedup_minhash, _sql_stream_dedup_minhash()
    ),
    "stream_decontaminate": Query(
        q_stream_decontaminate, SQL_DECONTAMINATE_STREAM
    ),
    "stream_quality_classifier": Query(
        q_stream_quality_classifier, _sql_stream_quality_classifier()
    ),
    "stream_topk": Query(q_stream_topk, SQL_STREAM_TOPK),
    "stream_cdc_merge": Query(q_stream_cdc_merge, _sql_stream_cdc_merge()),
    "stream_entropy": Query(q_stream_entropy, _sql_stream_entropy()),
    "stream_hll": Query(q_stream_hll, _sql_stream_hll()),
    "stream_multimodal": Query(q_stream_multimodal, _sql_stream_multimodal()),
    "stream_ohlc": Query(q_stream_ohlc, _sql_stream_ohlc()),
    "stream_countmin": Query(q_stream_countmin, _sql_stream_countmin()),
    "stream_tumbling": Query(q_stream_tumbling, W.SQL_TUMBLING, headline=True),
    "stream_sliding": Query(q_stream_sliding, W.SQL_SLIDING),
    "stream_session": Query(q_stream_session, W.SQL_SESSION),
    "stream_dedup": Query(q_stream_dedup, W.SQL_DEDUP_STREAM),
    "stream_stateful": Query(q_stream_stateful, W.SQL_STREAM_STATEFUL, headline=True),
    "stream_static_join": Query(q_stream_static_join, W.SQL_STREAM_STATIC_JOIN),
    "stream_stream_join": Query(q_stream_stream_join, W.SQL_STREAM_STREAM_JOIN),
    "stream_pipeline": Query(q_stream_pipeline, TRANSFORM_SQL),
    "stream_pipeline_foreach": Query(q_stream_pipeline_foreach, TRANSFORM_SQL),
    "stream_quality": Query(q_stream_quality, SQL_STREAM_QUALITY),
}
