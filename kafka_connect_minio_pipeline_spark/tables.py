"""Canonical loaders for the driver's test star schema.

All engine queries go through :func:`load` so that quirks of the generated
parquet (notably ``events.ts`` stored as TIMESTAMP(NANOS), which Spark only
reads via ``spark.sql.legacy.parquet.nanosAsLong``) are handled in exactly
one place and every downstream operator sees clean, documented types.

Scale note: these are single-file tables locally; on a real deployment each
would be a partitioned directory (or a Delta/Iceberg table). Nothing below
assumes single-file layout — paths are passed straight to the parquet scan
and Catalyst handles split planning, predicate pushdown and column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import conf_is_set

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """The confs the table readers need, applied idempotently to whatever
    session the caller hands in:
    - UTC session tz → timestamp display/NTZ-strip is machine-independent
      (determinism);
    - nanosAsLong → events.parquet (TIMESTAMP_NANOS) is readable at all
      (correctness);
    - shuffle.partitions, only when the session never set it → AQE ignores
      it for batch, but Structured Streaming disables AQE for stateful
      plans and allocates one state store per shuffle partition, so the
      200 default means 200 tiny RocksDB/HDFS state handles per stateful
      op locally. Filled in as the executor thread count; a value the
      session chose (``get_spark``, a test, a cluster deployment) stands.
    AQE is Spark's default and ``get_spark`` sets it; it is not set here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if not conf_is_set(spark, "spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Fan a compressed-small, compute-heavy relation across the cluster
    before a narrow CPU-bound stage (tokenize / shingle / regex / hash /
    vector math).

    Compressed text and embeddings pack ~100-1000x smaller than the CPU
    they cost: a 0.6 MB single-row-group parquet is ONE scan partition,
    so without this the whole stage runs on one core. The hash
    repartition moves the raw bytes once (trivial next to the compute it
    unlocks) and pins partition count against AQE's compressed-bytes
    coalescing. The same call is what you want at 100 TB too — it bounds
    the skew of oversized files and decouples compute parallelism from
    file layout; for scan->shuffle-agg plans with light per-row work,
    do NOT spread (the extra exchange outweighs it).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])


def _normalize_ts(dtype: T.DataType) -> F.Column:
    """events.ts → TIMESTAMP_NTZ(micros), whatever the file stored.

    Generated data has shipped both TIMESTAMP(NANOS) (read as long nanos
    under the legacy conf; integer ``div`` is mandatory — 2024 epoch-nanos
    ≈ 1.7e18 > 2^53, a double round trip would corrupt the value; DuckDB
    truncates nanos→micros the same way, keeping the oracle bit-identical)
    and plain TIMESTAMP(MICROS). Dispatch on the actual read type so the
    engine accepts either layout."""
    if isinstance(dtype, T.LongType):
        return F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
    return F.col("ts").cast("timestamp_ntz")


# Ingestion contract: REQUIRED (NOT NULL) fields per synthetic table.
# A NULL in a required field is an upstream producer defect — a key you
# can't group on, a timestamp you can't window, a payload you can't
# decode. The loader enforces the contract the way a warehouse schema's
# NOT NULL constraint would: violating rows never reach the operators
# (a full-registry probe measured 24 crashes + 10 silent cross-engine
# divergences from single NULL rows otherwise). Observability lives in
# ``pipeline_dq_checks`` (null/blank-rate battery) — the accounting view
# a deployment alerts on; optional fields (props, label, n_chars) stay
# nullable and every operator tolerates them. The IsNotNull conjunction
# pushes down to the parquet scan (free — Catalyst adds most of these
# for join/agg keys anyway). TPC-H tables carry the generator's own
# integrity contract and are left as-is.
# Contract width is a SCAN-width decision: a required field's IsNotNull
# filter forces the parquet scan to read that column even in queries
# that project it away, so the contract covers only the fields whose
# NULLs are truly unrepresentable downstream (keys, content, event
# time). documents.lang/source stay nullable — a NULL groups as its own
# bucket identically in both engines, and keeping them out of the
# contract preserves (doc_id, text)-only pruning for the text family.
REQUIRED_FIELDS = {
    "documents": ("doc_id", "text"),
    "embeddings": ("vec_id", "embedding"),
    "events": ("event_id", "ts", "user_id", "event_type", "value"),
}

# Key-only contract for catalog/metadata queries (see load_meta).
KEY_FIELD = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}

# Event-time sanity window, half-open [lo, hi). Two distinct failure
# modes motivate it: (1) pandas/Arrow stateful ops overflow on
# timestamps past 2262 (ns epoch range) — one year-2300 row kills a
# streaming job; (2) time-GRID operators (gapfill / interpolate)
# materialize O(span) rows, so one misparsed epoch (seconds read as
# millis lands in year ~56000) turns a minute grid into billions of
# rows. A probe with a single year-2300 event hung the events family
# outright. Out-of-window events are upstream corruption; the dq
# battery counts them (events_ts_out_of_range).
EVENT_TIME_BOUNDS = ("1990-01-01", "2100-01-01")

# DuckDB WHERE fragments mirroring the full load() contract, keyed by
# table — the single source the test oracles derive contract views from.
CONTRACT_SQL_WHERE = {
    "documents": "doc_id IS NOT NULL AND text IS NOT NULL",
    "embeddings": (
        "vec_id IS NOT NULL AND embedding IS NOT NULL"
        " AND len(list_filter(embedding,"
        " x -> x IS NULL OR isnan(x) OR isinf(x)"
        " OR abs(x) >= 1000000000.0)) = 0"
    ),
    "events": (
        "event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL"
        " AND event_type IS NOT NULL AND value IS NOT NULL"
        f" AND ts >= TIMESTAMP '{EVENT_TIME_BOUNDS[0]}'"
        f" AND ts < TIMESTAMP '{EVENT_TIME_BOUNDS[1]}'"
        " AND isfinite(value)"
    ),
}


def _contract(df: DataFrame, name: str) -> DataFrame:
    for c in REQUIRED_FIELDS.get(name, ()):
        df = df.filter(F.col(c).isNotNull())
    if name == "events":
        lo, hi = EVENT_TIME_BOUNDS
        df = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        # finite metric required: a NaN/Inf value crashes the exact
        # decimal/integer-cents casts in BOTH engines (18 queries in
        # the probe); value is a narrow, already-contract-read column
        df = df.filter(
            ~(F.isnan(F.col("value"))
              | (F.abs(F.col("value")) == F.lit(float("inf"))))
        )
    if name == "embeddings":
        df = df.filter(~_has_out_of_range(F.col("embedding")))
        # finite components required: a NaN/Inf/NULL element (failed
        # embedding service, corrupt float) crashes ANSI casts in the
        # non-normalizing vector ops and hits the one cross-engine
        # comparison crack (DuckDB totally orders NaN ABOVE all values
        # where Spark's NaN comparisons are IEEE-false). No extra scan
        # width: the embedding column is already contract-read.
        df = df.filter(~_has_nonfinite(F.col("embedding")))
    return df


def _has_nonfinite(arr: F.Column) -> F.Column:
    return F.exists(
        arr,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )


# Magnitude cap for embedding components. Real embedding models emit
# unit-ish scales; a 1e30+ component is upstream corruption, and the
# decimal(16,6) quantization the cross-engine-exact centroid/k-means
# sums rest on holds |x| < 1e10 (a probe with 1e37 components crashed
# all three with NUMERIC_VALUE_OUT_OF_RANGE). 1e9 leaves an order of
# magnitude of headroom below the representation limit.
EMB_COMPONENT_MAX = 1e9


def _has_out_of_range(arr: F.Column) -> F.Column:
    return F.exists(arr, lambda x: F.abs(x) >= F.lit(EMB_COMPONENT_MAX))


def load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Type-normalized load WITHOUT the NOT NULL contract — the
    pre-ingestion view. Only the data-quality audit should read this:
    ``pipeline_dq_checks`` must SEE contract violations to count them,
    while every analytic operator reads :func:`load` and can assume the
    contract holds."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with normalized types and the NOT NULL
    contract on required fields (see ``REQUIRED_FIELDS``)."""
    return _contract(load_raw(spark, sf_dir, name), name)


def load_meta(spark: SparkSession, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Catalog-style load for metadata-only queries: select ``cols`` and
    enforce only the KEY field's NOT NULL — the full contract's content
    filter (e.g. documents.text IS NOT NULL) would force the scan to
    read the WIDE content column a metadata query never touches,
    destroying column pruning. This mirrors a real pipeline's shape:
    sampling/splitting runs over the catalog before any content fetch,
    so a content-defective row can still be sampled and is dropped at
    the (content-reading) consumption stage."""
    key = KEY_FIELD[name]
    if key not in cols:
        cols = (key, *cols)
    return (
        load_raw(spark, sf_dir, name)
        .select(*cols)
        .filter(F.col(key).isNotNull())
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-expressed operators:
    grouping sets, asof emulation, ... Catalyst plans SQL and DataFrame code
    identically, so this is a syntax choice, not an engine fork)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, query: str, sf_dir: str) -> DataFrame:
    """The engine's ad-hoc SQL surface: every test table as a view, then
    spark.sql — users of the reference's verifier queries run them here
    verbatim. Same Catalyst planning as the DataFrame operators."""
    register_views(spark, sf_dir)
    return spark.sql(query)
