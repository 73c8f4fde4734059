"""kafka_connect_minio_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query / data-processing capabilities of the
reference Kafka-Connect → MinIO pipeline (see SURVEY.md), expressed
Spark-first: DataFrame / Spark SQL for the relational surface, Structured
Streaming for the streaming spine, Pandas UDFs only where built-ins cannot
express the semantics.

Layout:
    session     — SparkSession factory tuned for local[N] and cluster runs
    tables      — canonical loaders for the test star schema (nanos-ts safe)
    pipeline    — the reference's per-record dataflow (profile transform,
                  reconciliation) as composable DataFrame → DataFrame fns
    operators   — relational + large-scale data-pipeline operators
                  (joins, aggregates, windows, setops, dedup, similarity,
                  text analysis, multimodal plumbing)
    functions   — scalar/vector expression helpers
    sources     — Kafka + Confluent-registry Avro decode, file sources
    streaming   — Structured Streaming windows / watermarks / stateful ops
    plans       — plan introspection helpers (pushdown / broadcast asserts)
"""

__version__ = "0.1.0"

from .registry import all_queries  # noqa: E402
from .session import get_spark  # noqa: E402
from .sinks import write_compacted, write_partitioned  # noqa: E402
from .tables import load, load_all, register_views, spread, sql  # noqa: E402


def __getattr__(name: str):
    """Lazy re-exports of the df-level operator API (importing the
    operator modules eagerly would drag pandas/pyarrow into every
    `import kafka_connect_minio_pipeline_spark`)."""
    lazy = {
        "profile_transform": "pipeline.profile",
        "profile_transform_records": "pipeline.profile",
        "reconcile": "pipeline.profile",
        "sample_stratified": "operators.llmdata",
        "sample_hash_threshold": "operators.llmdata",
        "target_mix_rates": "operators.llmdata",
        "apply_mix": "operators.llmdata",
        "quality_features": "operators.text",
        "tfidf_top_terms": "operators.text",
        "sessionize": "operators.timeseries",
        "gapfill_hourly": "operators.timeseries",
        "funnel": "operators.timeseries",
        "zscore_outliers": "operators.timeseries",
        "scd2": "operators.timeseries",
        "shuffle_split": "operators.corpus",
        "vocab_top": "operators.corpus",
        "repetition_stats": "operators.corpus",
        "pagerank": "operators.graph",
        "connected_components_ls": "operators.dedup",
        "pack_sequences": "operators.llmdata",
        "pii_scrub": "operators.llmdata",
        "decontaminate": "operators.llmdata",
        "fetch_schema": "sources.registry_avro",
        "kafka_avro_stream": "sources.registry_avro",
        "rocksdb_state": "streaming.runner",
        "run_foreach_batch": "streaming.runner",
        "read_json_sink": "streaming.pipeline",
    }
    if name in lazy:
        import importlib

        return getattr(importlib.import_module(f".{lazy[name]}", __name__), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "all_queries",
    "get_spark",
    "load",
    "load_all",
    "register_views",
    "sql",
    "write_compacted",
    "write_partitioned",
    "spread",
    # lazy df-level API (see __getattr__)
    "profile_transform",
    "profile_transform_records",
    "reconcile",
    "sample_stratified",
    "sample_hash_threshold",
    "target_mix_rates",
    "apply_mix",
    "quality_features",
    "tfidf_top_terms",
    "sessionize",
    "gapfill_hourly",
    "funnel",
    "zscore_outliers",
    "scd2",
    "shuffle_split",
    "vocab_top",
    "repetition_stats",
    "pagerank",
    "connected_components_ls",
    "pack_sequences",
    "pii_scrub",
    "decontaminate",
    "fetch_schema",
    "kafka_avro_stream",
    "rocksdb_state",
    "run_foreach_batch",
    "read_json_sink",
]
