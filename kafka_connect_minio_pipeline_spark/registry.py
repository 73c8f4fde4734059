"""Central query registry.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a ``(spark, sf_dir) -> DataFrame`` builder plus (when expressible)
the equivalent ANSI SQL for the DuckDB differential oracle. The driver's
correctness gate compares the two at sf0.01 (row count + schema +
order-insensitive value hash), so builder and oracle must agree on column
NAMES and TYPES exactly — both sides alias computed columns identically.

Modules are imported lazily so a bug in one operator family doesn't take
down the whole registry surface.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered operator query."""

    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → rows-only check (non-SQL op)
    headline: bool = False  # include in bench.py's per-round measurement


# modules expected to expose a module-level QUERIES: dict[str, Query]
#
# ORDER MATTERS for driver grading: the correctness gate hashes the first
# 50 registry entries in iteration order. Round-3 rotation: the families
# the driver graded ONLY in round 1 (joins / aggregates / windows /
# setops / scalar) come back toward the front for a re-grade; the
# families hard-verified in round 2 (text / multimodal / streaming /
# similarity / dedup / pipeline / llm / ts) rotate to the tail, where
# the local DuckDB parity net still covers them every run.
_QUERY_MODULES = (
    "kafka_connect_minio_pipeline_spark.operators.sketches",
    "kafka_connect_minio_pipeline_spark.operators.corpus",
    "kafka_connect_minio_pipeline_spark.operators.graph",
    "kafka_connect_minio_pipeline_spark.functions.udafs",
    "kafka_connect_minio_pipeline_spark.operators.joins",
    "kafka_connect_minio_pipeline_spark.operators.aggregates",
    "kafka_connect_minio_pipeline_spark.operators.aggregates_stats",
    "kafka_connect_minio_pipeline_spark.operators.windows",
    "kafka_connect_minio_pipeline_spark.operators.setops",
    "kafka_connect_minio_pipeline_spark.functions.scalar",
    "kafka_connect_minio_pipeline_spark.operators.text",
    # r13 hygiene split (VERDICT r12 item 7): the tokenizer-trainer and
    # trained-classifier families moved out of text.py unchanged —
    # same query names, same Query objects, adjacent registry position
    "kafka_connect_minio_pipeline_spark.operators.text_tokenizers",
    "kafka_connect_minio_pipeline_spark.operators.text_classifier",
    "kafka_connect_minio_pipeline_spark.operators.multimodal",
    "kafka_connect_minio_pipeline_spark.operators.similarity",
    "kafka_connect_minio_pipeline_spark.operators.similarity_pq",
    "kafka_connect_minio_pipeline_spark.operators.dedup",
    "kafka_connect_minio_pipeline_spark.operators.timeseries",
    "kafka_connect_minio_pipeline_spark.operators.timeseries_analytics",
    "kafka_connect_minio_pipeline_spark.operators.layout",
    "kafka_connect_minio_pipeline_spark.operators.llmdata",
    "kafka_connect_minio_pipeline_spark.pipeline.queries",
    "kafka_connect_minio_pipeline_spark.streaming.queries",
)

# Pinned to the FRONT of iteration order for ROUND-15 grading (the
# driver hashes the first 50 entries). Steady-state rotation policy
# (r7): front whatever the round ADDS or CHANGES, then backfill with the
# OLDEST standing driver rows (latest-grade round per query, derived
# from the recorded CORRECTNESS files) so no row's vintage falls ever
# further behind. ROUND 15 (optimization round 2 — VERDICT r14 item 1a:
# the window MUST front every r14-optimizer-touched query, since only 2
# of ~16 were inside the r14 window):
#   1-14:  the r14-optimizer-touched queries not graded in r14
#          (barrier / hashed join keys / star-forest CC — including the
#          r15 probe fix e2d280c — / vectorized kernels / zstd staging):
#          dedup_ngram_jaccard, dedup_minhash_lsh, dedup_containment,
#          dedup_incremental (r15: is_new fused into the staged
#          relation, two join-backs dropped), dedup_clusters,
#          dedup_cascade_eval, dedup_transitivity_eval, graph_jaccard,
#          graph_wcc, graph_kcore (r15: reverted to eager checkpoints),
#          multimodal_phash_clusters, multimodal_features,
#          llm_dedup_keep_best, corpus_split_cluster_safe.
#   15:    llm_substring_clean — r15 CHANGED (single span-array stitch
#          pass, 0c45bd2); graded green in r14 but the code moved after.
#   16-22: the ANN family on the r15 mapInArrow kernels
#          (functions/annkernels.py — bit-exact by contract, proven by
#          tests/test_annkernels.py differential + these grades):
#          similarity_ann_ivf, similarity_ann_adc, similarity_ann_ivfpq,
#          similarity_ann_ivfpq_eval, similarity_ann_ivfpq_residual,
#          similarity_ivf_probe_sweep, dedup_threshold_sweep (shares
#          dedup_minhash_lsh's scored pairs; minhash_band_rows is the
#          one banding, with a carry param for dedup_incremental).
#   23-37: the 15 STATEFUL streaming queries — r15 moved them onto the
#          data-volume-derived state-partition rule (runner.py): results
#          are partition-count-invariant by construction, re-graded to
#          prove it at driver level.
#   38-50: backfill — the LAST 10 round-8-vintage rows (the r8 vintage
#          CLEARS: text_line_dedup / text_pretokenize / text_token_stats
#          / ts_downsample_lttb / ts_downsample_m4 / ts_ewma /
#          ts_islands / ts_ohlc / ts_overlap_join /
#          udtf_sentences_builtin) + the 3 alphabetically-first
#          round-9-vintage rows (agg_large_orders / agg_linreg /
#          agg_mann_whitney); 40 r9 rows remain for r16, all under the
#          every-run local parity net.
# History (round 14):
#   1-2:   r14 NEW: corpus_refresh_pipeline (delta-only crawl-refresh
#          composition — VERDICT r13 item 4) / multimodal_audio_
#          fingerprint (waveform Haar-band fingerprint through the
#          phash LSH machinery — item 7).
#   3-6:   r14 CHANGED (semantics): text_unigram_prune + the trained
#          model's two consumers text_unigram_tokenizer /
#          text_unigram_segment (prune criterion upgraded from
#          expected-count rank to Kudo likelihood-loss rank — item 3;
#          the surviving vocabulary changes) / text_tokenizer_ab
#          (+ bpe_shared / unigram_shared fair-domain arms — item 6).
#   7-10:  r14 CHANGED (oracle text only, results identical, re-graded
#          because the driver's recorded pair changes): text_bpe_vocab
#          / text_bpe_apply / text_bpe_fertility (b{m} winner CTEs now
#          AS MATERIALIZED for the A/B card's second reference) and
#          text_gopher_rules (SQL now generated by the shared
#          gopher_sql template the refresh oracle reuses) — gopher is
#          ALSO an r8-vintage row, so fronting it drains the backlog.
#   11-13: the LAST 3 round-7-vintage rows (ts_sessionize /
#          udaf_weighted_value / udtf_sentences) — the r7 vintage
#          CLEARS (VERDICT r13 item 1).
#   14-50: the 37 alphabetically-first round-8-vintage rows (gopher
#          excluded — already fronted) — r8 drops from 48 to exactly
#          10 (text_line_dedup / text_pretokenize / text_token_stats /
#          the ts_downsample..ts_overlap_join cohort /
#          udtf_sentences_builtin), meeting the <= 10 target; all stay
#          under the every-run local parity net.
# History (round 13):
#   1-4:   r13 NEW: text_unigram_prune (Kudo prune-trajectory
#          diagnostics — VERDICT r12 item 3) / stream_decontaminate
#          (ingest-time n-gram decon gate, shares the batch oracle —
#          item 5) / corpus_snapshot_diff (crawl N−1 vs N churn report
#          — item 6) / text_tokenizer_ab (BPE vs unigram fertility/
#          coverage A/B evidence card, the classifier-bigram
#          decision-by-measurement pattern).
#   5-7:   r13 CHANGED: text_unigram_tokenizer + text_unigram_segment
#          (the trained model now runs the full prune/re-EM schedule) /
#          dedup_cascade_eval (its exact + SimHash layers moved onto
#          the session-cached verified relations — item 2; oracle
#          recomputes per statement, proving the cache neutral).
#   8-10:  the LAST 3 round-6-vintage rows (ts_uptime_report /
#          ts_zscore / udf_grouped_znorm_builtin) — the r6 vintage
#          CLEARS (VERDICT r12 item 1).
#   11-50: 40 of the 43 round-7-vintage rows (alphabetical) — the r7
#          vintage drops to 3 (ts_sessionize / udaf_weighted_value /
#          udtf_sentences, displaced by the seven rows above; target
#          was ≤10), all still under the every-run local parity net.
#   NOTE: the text.py hygiene split (item 7) moved the tokenizer and
#   classifier families into operators/text_tokenizers.py /
#   operators/text_classifier.py UNCHANGED — pure move, no re-grade
#   needed beyond the semantic changes already pinned above.
# History (round 12):
#   1-3:   r12 NEW: llm_decon_semantic_sweep (τ operating-point curve
#          over the ONCE-scored semantic-decon relation) /
#          corpus_url_filter + corpus_domain_mix (RefinedWeb-class
#          domain blocklist + per-domain hash-threshold cap over
#          synthesized URLs).
#   4-11:  r12 CHANGED — the verified-pair session cache (VERDICT r11
#          item 3) swapped the production path of llm_dedup_keep_best,
#          dedup_cascade_eval, dedup_clusters, dedup_transitivity_eval,
#          dedup_minhash_eval, dedup_source_overlap and
#          corpus_split_leakage onto the cached relations (oracles
#          recompute per statement, proving the cache exactness-neutral
#          each grade); stream_quality_classifier's scratch staging is
#          now keyed per (session, sf) (ADVICE r11).
#   12-45: 34 of the 37 remaining round-6-vintage rows (alphabetical) —
#          the r6 vintage all but CLEARS (VERDICT r11 item 1); the
#          three leftovers (ts_uptime_report / ts_zscore /
#          udf_grouped_znorm_builtin, displaced by the five late
#          additions below) front r13's backfill, still under the
#          every-run local parity net.
#   46-50: r12 LATE NEW (graded the round they land):
#          text_unigram_tokenizer (unigram-LM tokenizer trainer,
#          unrolled EM) / text_classifier_bigram_eval (hashed-bigram
#          feature A/B card) / text_unigram_segment (Viterbi APPLY of
#          the trained unigram model) / corpus_url_canonical (URL
#          canonicalization + frontier exact-dedup) /
#          corpus_split_cluster_safe (leakage-proof split — whole
#          near-dup clusters share one split by construction).
# History (round 11):
#   1-10:  r11 NEW: text_quality_classifier / text_classifier_eval /
#          text_classifier_weights / llm_decontaminate_semantic /
#          stream_dedup_minhash / stream_quality_classifier /
#          text_classifier_calibration / corpus_quality_report;
#          r11 CHANGED: graph_wcc (production path swapped to
#          large-star/small-star; the min-label loop has since been
#          deleted, the union-find test is the cross-check) and
#          dedup_minhash_lsh (band derivation refactored into
#          minhash_band_rows, now the only banding: the stream gate and
#          every banded candidate join use it).
#   11-43: ALL 33 remaining round-5-vintage rows — the r5 vintage CLEARS
#          (VERDICT r10 item 1): corpus_shard_skew/split_leakage/
#          weighted_median, the dedup eval quartet, llm transforms,
#          multimodal wav/errors, pipeline_dq_checks, the cdc/entropy
#          stream pair, text r5 five, the ts r5 batch, the rolling
#          window pair, udf_grouped_znorm.
#   44-50: the 7 alphabetically-first round-6-vintage rows (the r6
#          drain begins; 37 r6 rows remained for r12, all still under
#          the every-run local parity net).
# History (round 10):
#   1-10:  round-10 LATE additions/changes (graded the round they land):
#          agg_skyline (Pareto frontier, windowed-linear vs the
#          NOT EXISTS oracle), agg_column_profile (one-pass Deequ
#          profile vs six-scan oracle), join_copurchase_lift
#          (market-basket support/confidence/lift),
#          ts_theil_sen (robust pairwise-median trend),
#          ts_attribution (first/last-touch credit), agg_cuped (CUPED
#          pre-experiment variance reduction, exact-decimal co-moments),
#          agg_srm (sample-ratio-mismatch gate — the experimentation
#          trio srm -> cuped -> conversion_ci), graph_wcc (connected
#          components vs the unrolled fixed-round min-label oracle);
#          CHANGED: join_min_price_supplier (positive-quantity guard on
#          the unit-price division — the r10 relational fuzz net found
#          the ANSI DIVIDE_BY_ZERO on zero-quantity lines) and
#          text_kn_perplexity (negative-zero NLL normalization — the
#          multi-seed fuzz sweep found Spark +0.0 vs DuckDB -0.0 on
#          all-P=1 degenerate corpora; text_kn_quality got the same fix
#          and is already pinned above).
#  11-23:  round-10 new/changed — NEW: the TPC-H completion batch
#          join_order_count_dist (Q13 left-join histogram) /
#          join_waiting_supplier (Q21 only-late-supplier decorrelation) /
#          join_disjunctive_revenue (Q19 cross-side OR with explicit
#          implied-hull pushdown) / join_shipping_priority (Q3
#          date-split top-k) / join_returned_items (Q10 churn report) /
#          agg_promo_share (Q14 conditional ratio) — with these, every
#          TPC-H query whose columns exist in the driver schema is
#          implemented or shape-subsumed (see SURVEY §2.5) —
#          text_kn_quality (target-trained CCNet-semantics KN filter),
#          and the space-filling-curve layout trio layout_zorder_key /
#          layout_hilbert_key / layout_zorder_pruning;
#          CHANGED: agg_ks_test / agg_chisq (double-cast before the
#          count product — one IEEE tree both engines, ADVICE r9) and
#          graph_hits (oracle edges CTE AS MATERIALIZED, ADVICE r9).
#  24-50: the 10 remaining round-4-vintage rows (scalar_array /
#          scalar_conditional / scalar_date + the seven window-family
#          rows) — the r4 vintage CLEARS — then 17 of the 50
#          round-5-vintage rows (agg moment/shape cohort, graph r5
#          batch, ts r5 batch head, kmeans family, cdc/stream pair,
#          scalar_bitwise). The 33 r5 rows left (incl. ts_changepoint / ts_anomaly_seasonal / ts_acf / stream_entropy / stream_cdc_merge) (corpus_*, dedup eval
#          quartet, llm transforms, multimodal wav/errors,
#          pipeline_dq_checks, text r5 five, the rolling window pair,
#          ts_survival/week_over_week, udf_grouped_znorm, and —
#          displaced by the five late r10 additions, which must grade
#          the round they land — ts_concurrency / ts_dow_hour_heatmap /
#          ts_forecast_snaive / ts_interpolate / ts_markov) front the
#          r11 backfill; all stay under the local parity net.
# Everything else follows in module order under the every-run local
# DuckDB parity net (tests/test_oracle_parity.py re-checks all
# registered queries at sf0.001 on every pytest run).
_GRADE_FIRST = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_incremental",
    "dedup_clusters",
    "dedup_cascade_eval",
    "dedup_transitivity_eval",
    "graph_jaccard",
    "graph_wcc",
    "graph_kcore",
    "multimodal_phash_clusters",
    "multimodal_features",
    "llm_dedup_keep_best",
    "corpus_split_cluster_safe",
    "llm_substring_clean",
    "similarity_ann_ivf",
    "similarity_ann_adc",
    "similarity_ann_ivfpq",
    "similarity_ann_ivfpq_eval",
    "similarity_ann_ivfpq_residual",
    "similarity_ivf_probe_sweep",
    "dedup_threshold_sweep",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_dedup",
    "stream_stateful",
    "stream_static_join",
    "stream_stream_join",
    "stream_hll",
    "stream_ohlc",
    "stream_countmin",
    "stream_entropy",
    "stream_topk",
    "stream_dedup_minhash",
    "stream_quality_classifier",
    "stream_decontaminate",
    "text_line_dedup",
    "text_pretokenize",
    "text_token_stats",
    "ts_downsample_lttb",
    "ts_downsample_m4",
    "ts_ewma",
    "ts_islands",
    "ts_ohlc",
    "ts_overlap_join",
    "udtf_sentences_builtin",
    "agg_large_orders",
    "agg_linreg",
    "agg_mann_whitney",
)


def all_queries(strict: bool = True) -> dict[str, Query]:
    """Collect every registered query.

    ``strict=True`` (the driver-facing default) propagates a module's
    ImportError: a broken operator family must surface as a loud failure,
    never as its queries silently vanishing from the correctness gate.
    ``strict=False`` keeps best-effort listing for exploratory tooling.
    """
    collected: dict[str, Query] = {}
    for mod_name in _QUERY_MODULES:
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            if strict:
                raise
            continue
        queries = getattr(mod, "QUERIES", {})
        for name, q in queries.items():
            if name in collected:
                raise ValueError(f"duplicate query name {name!r} from {mod_name}")
            collected[name] = q
    dangling = [n for n in _GRADE_FIRST if n not in collected]
    if dangling and strict:
        # a pin that resolves to no registered query would silently
        # shift the driver's 50-entry grading window (ADVICE r6 item 1,
        # the exact failure mode of round 6's text_bpe_apply pin) —
        # loud error, never a quiet skip
        raise ValueError(f"_GRADE_FIRST pins unregistered queries: {dangling}")
    out = {n: collected[n] for n in _GRADE_FIRST if n in collected}
    out.update(collected)
    return out
