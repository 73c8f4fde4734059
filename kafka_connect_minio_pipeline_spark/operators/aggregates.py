"""Aggregation operators (SURVEY.md §2.4 aggregations row).

Covers grouped aggregates (the reference's only aggregation is the
verifier's count check, A21 — generalized here), multi-level grouping
(rollup / cube / grouping sets), exact and approximate distinct counts,
and deterministic variance/stddev.

Exactness strategy (see functions/exact.py): decimal sums are
order-independent so they hash-match DuckDB; averages/moments are computed
from exact decimal sums with an IEEE-identical final expression instead of
engine-native AVG/STDDEV (whose accumulation order differs per engine).
All of these use built-in partial aggregation: the shuffle carries one
accumulator row per (group × partition), never raw rows — the map-side
combine that makes groupBy viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    SQL_SUM_DEC2,
    dec9,
    SQL_SUM_REVENUE,
    dec2,
    sum_dec2,
    sum_revenue,
)
from ..registry import Query
from ..tables import load, register_views


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan→filter→agg.

    The shipdate filter is pushed into the parquet scan (PushedFilters),
    sums are decimal-exact, averages derived from the exact sums.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_dec2(F.col("l_quantity")).alias("sum_qty"),
            sum_dec2(F.col("l_extendedprice")).alias("sum_base_price"),
            sum_revenue(F.col("l_extendedprice"), F.col("l_discount")).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.round(F.col("sum_qty").cast("double") / F.col("count_order"), 6),
        )
        .withColumn(
            "avg_price",
            F.round(F.col("sum_base_price").cast("double") / F.col("count_order"), 6),
        )
    )


SQL_AGG_PRICING = """
    WITH base AS (
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
           count_order,
           ROUND(CAST(sum_qty AS DOUBLE) / count_order, 6) AS avg_qty,
           ROUND(CAST(sum_base_price AS DOUBLE) / count_order, 6) AS avg_price
    FROM base
"""


def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group (expands to two-phase agg plan)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        sum_dec2(F.col("o_totalprice")).alias("sum_price"),
    )


SQL_AGG_COUNT_DISTINCT = """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag → linestatus → grand total) with GROUPING id to
    disambiguate subtotal rows from genuine NULL groups."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            sum_dec2(F.col("l_quantity")).alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("grp"),
        )
    )


SQL_AGG_ROLLUP = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two order dimensions (all 4 grouping combinations)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            sum_dec2(F.col("o_totalprice")).alias("sum_price"),
            F.count("*").alias("n_orders"),
            F.grouping_id("o_orderstatus", "o_orderpriority").cast("long").alias("grp"),
        )
    )


SQL_AGG_CUBE = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — SQL-only surface in Spark, planned by
    Catalyst identically to rollup/cube (Expand + partial agg)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


SQL_AGG_GROUPING_SETS = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mean/variance/stddev from exact decimal sums.

    Engine-native STDDEV accumulates in engine-specific order (Welford on
    different partition orders), so it can never hash-match across engines.
    Instead: exact SUM(x), SUM(x²) in decimal (x is cent-exact → x² is
    scale-4-exact), then one IEEE-identical final expression. Same partial
    aggregation profile as any sum at scale.
    """
    customer = load(spark, sf_dir, "customer")
    base = customer.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        sum_dec2(F.col("c_acctbal")).alias("sum_bal"),
        F.sum(dec2(F.col("c_acctbal")) * dec2(F.col("c_acctbal")))
        .cast("double")
        .alias("sum_bal_sq"),
    )
    sum_d = F.col("sum_bal").cast("double")
    sumsq_d = F.col("sum_bal_sq").cast("double")
    n = F.col("n")
    var = (sumsq_d - sum_d * sum_d / n) / (n - F.lit(1))
    return base.select(
        "c_mktsegment",
        "n",
        F.round(sum_d / n, 6).alias("mean_bal"),
        F.round(var, 6).alias("var_bal"),
        F.round(F.sqrt(var), 6).alias("std_bal"),
    )


SQL_AGG_STATS = """
    WITH base AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))
                        * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal_sq
        FROM customer GROUP BY c_mktsegment)
    SELECT c_mktsegment, n,
           ROUND(CAST(sum_bal AS DOUBLE) / n, 6) AS mean_bal,
           ROUND((CAST(sum_bal_sq AS DOUBLE)
                  - CAST(sum_bal AS DOUBLE) * CAST(sum_bal AS DOUBLE) / n)
                 / (n - 1), 6) AS var_bal,
           ROUND(SQRT((CAST(sum_bal_sq AS DOUBLE)
                  - CAST(sum_bal AS DOUBLE) * CAST(sum_bal AS DOUBLE) / n)
                 / (n - 1)), 6) AS std_bal
    FROM base
"""


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate next to the exact count.

    rows-only check: the estimate is engine-specific by design. At scale
    this is the operator you actually run — fixed-size sketch vs. the
    shuffle-heavy exact expansion.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (matches DuckDB's
    quantile_cont; rounded to 4dp to absorb last-ulp interpolation
    differences). Exact percentile buffers each group's values — fine per
    group here; at 100 TB the drop-in is approx_percentile (fixed-size
    KLL-style sketch, mergeable map-side) which trades ~0.01% rank error
    for O(1) memory."""
    lineitem = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("double")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile(x, 0.25), 4).alias("p25"),
        F.round(F.percentile(x, 0.5), 4).alias("median"),
        F.round(F.percentile(x, 0.75), 4).alias("p75"),
        F.round(F.percentile(x, 0.99), 4).alias("p99"),
    )


SQL_AGG_PERCENTILE = """
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 4) AS median,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4) AS p75,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
"""


def q_agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: hourly AND daily continuous
    aggregates of the events stream in ONE pass via grouping sets (the
    hour rows re-aggregate into day rows map-side; no second scan, no
    self-union). `grain` labels the granularity, bucket is the truncated
    timestamp. This is the batch form of the tiered-rollup pattern a
    timeseries store maintains incrementally."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(DATE_TRUNC('HOUR', ts)) = 0
                    THEN 'hour' ELSE 'day' END AS grain,
               COALESCE(DATE_TRUNC('HOUR', ts), DATE_TRUNC('DAY', ts)) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
            (DATE_TRUNC('HOUR', ts), DATE_TRUNC('DAY', ts), event_type),
            (DATE_TRUNC('DAY', ts), event_type))
        """
    )


SQL_AGG_TIME_ROLLUP = """
    SELECT CASE WHEN GROUPING(DATE_TRUNC('hour', ts)) = 0
                THEN 'hour' ELSE 'day' END AS grain,
           COALESCE(DATE_TRUNC('hour', ts), DATE_TRUNC('day', ts)) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS (
        (DATE_TRUNC('hour', ts), DATE_TRUNC('day', ts), event_type),
        (DATE_TRUNC('day', ts), event_type))
"""


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type (bin = floor(value/10)).

    The classic distributed histogram: binning is a narrow map, counting
    is one partial-aggregated groupBy — shuffle volume is O(bins), never
    O(rows). IEEE division + floor on identical operands is bit-identical
    across engines, so bin assignment hash-matches exactly."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.floor(F.col("value") / 10).alias("bin")
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
    )


SQL_AGG_HISTOGRAM = """
    SELECT event_type,
           CAST(FLOOR(value / 10) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts, one column per event
    type. The pivot values are EXPLICIT — Spark then skips the extra
    distinct-values job and the output schema is deterministic (at 100 TB
    an implicit pivot first scans the data to discover columns; never do
    that). Under the hood this is one hash aggregate over (user_id) with
    5 conditional counts — same partial-aggregation scaling as any
    groupBy. Absent combinations pivot to null, coalesced to 0 to match
    the SQL FILTER semantics.

    Plan shape: two exchanges (count by (user, type), pivotfirst by
    user), both carrying partial aggregates — ≤ |types| rows per user
    after phase 1. When the pivot values are known, the one-shuffle
    alternative is plain conditional aggregation (the oracle's shape:
    ``count(when(type == t, 1))`` per type); the pivot API is registered
    because it's the surface users reach for."""
    events = load(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        # count(lit(1)): Spark disallows the star inside a pivot aggregate
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0).cast("long")).alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


SQL_AGG_PIVOT = """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS n_error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS n_view
    FROM events GROUP BY user_id
"""


def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates per nation: the customer holding the max
    balance (argmax) and the most common market segment (mode).

    The argmax is ``max(struct(value, key))`` — ONE partial-aggregatable
    hash aggregate, the skew-immune alternative to the row_number-window
    form (a window must co-locate and sort every row of a group; the
    struct-max keeps map-side combine, so a 100 TB fact table reduces to
    |groups| rows before the shuffle). Struct comparison is
    lexicographic, so the trailing key is a deterministic tiebreaker —
    exactly max_by with ties broken toward the larger key. The mode uses
    a row_number instead — its input is the already-aggregated (nation,
    segment) count relation of ≤ |nations| × |segments| rows, where a
    window costs nothing and keeps the smallest-segment tiebreak
    readable. Both sides join back to ``nation`` broadcast."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    top = (
        cust.groupBy("c_nationkey")
        .agg(
            F.max(F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias("m"),
            F.count("*").alias("n_customers"),
        )
        .select(
            "c_nationkey",
            F.col("m.c_custkey").alias("top_custkey"),
            F.col("m.c_acctbal").alias("top_acctbal"),
            "n_customers",
        )
    )
    from pyspark.sql import Window

    seg_counts = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("cnt").desc(), F.col("c_mktsegment")
    )
    mode = (
        seg_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("mode_segment"))
    )
    return (
        top.join(mode, "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "top_custkey",
            "top_acctbal",
            "n_customers",
            "mode_segment",
        )
    )


SQL_AGG_ARGMAX = """
    WITH top AS (
        SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
              FROM customer) WHERE rn = 1),
    counts AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer GROUP BY c_nationkey),
    seg AS (
        SELECT c_nationkey, c_mktsegment AS mode_segment
        FROM (SELECT c_nationkey, c_mktsegment, ROW_NUMBER() OVER (
                  PARTITION BY c_nationkey
                  ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
              FROM customer GROUP BY c_nationkey, c_mktsegment) WHERE rn = 1)
    SELECT n.n_name AS nation, top_custkey, top_acctbal, n_customers, mode_segment
    FROM top
    JOIN counts USING (c_nationkey)
    JOIN seg USING (c_nationkey)
    JOIN nation n ON c_nationkey = n.n_nationkey
"""


def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance per group from exact decimal
    moments (quantity vs extended price per return flag).

    Engine-native CORR/COVAR accumulate co-moments in partition order and
    can never hash-match across engines; the five exact decimal sums
    (x, y, xy, x², y²) are order-free, and the closing expression is one
    IEEE-identical double tree. Same partial-aggregation shuffle profile
    as any grouped sum at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    x, y = dec2(F.col("l_quantity")), dec2(F.col("l_extendedprice"))
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1))
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return base.select(
        "l_returnflag",
        "n",
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


SQL_AGG_CORR = """
    WITH base AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
               AS corr_qty_price
    FROM base
"""


def mode_per_group(df: DataFrame, key: str, val: str) -> DataFrame:
    """Deterministic MODE aggregate: the most frequent ``val`` per
    ``key``, ties broken by smallest value. Spark 4 has a ``mode()``
    aggregate but leaves ties implementation-defined — useless for a
    reproducible pipeline — so this is the two-phase formulation: count
    per (key, val) (partial-aggregated, one shuffle), then argmax via
    max_by over the struct-ordered pair ((n, inverted val) lexicographic)
    in a second single-key pass. No window, no row_number sort: both
    phases are hash aggregations that scale linearly, and the second
    groupBy reuses the first's partitioning modulo the dropped val
    column.
    """
    counts = df.groupBy(key, val).agg(F.count("*").alias("n"))
    # "max n, then MIN val among ties" — a single max_by(struct) can't
    # invert the tie order for strings, so: max n per key, equi-join back
    # (both sides already partitioned by key), min val among the hits
    top_n = counts.groupBy(key).agg(F.max("n").alias("n"))
    return (
        counts.join(top_n, [key, "n"])
        .groupBy(key, "n")
        .agg(F.min(val).alias(f"mode_{val}"))
        .select(key, f"mode_{val}", "n")
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: each user's most frequent event type (ties →
    lexicographically smallest type)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    return mode_per_group(ev, "user_id", "event_type")


SQL_AGG_MODE = """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type),
    top_n AS (SELECT user_id, MAX(n) AS n FROM counts GROUP BY user_id)
    SELECT c.user_id, MIN(c.event_type) AS mode_event_type, CAST(c.n AS BIGINT) AS n
    FROM counts c JOIN top_n t ON c.user_id = t.user_id AND c.n = t.n
    GROUP BY c.user_id, c.n
"""


def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ordinary-least-squares: per event type, the linear trend of
    ``value`` over time (is this metric drifting?) — slope, intercept and
    R² of value ~ hours-since-window-start.

    Same exactness strategy as agg_corr: engine-native REGR_* aggregates
    accumulate float co-moments in partition order and can't hash-match
    across engines, so the six co-moment sums are exact decimals (x is an
    integer hour index via timestampdiff — exact; y is value quantized to
    DECIMAL(18,6)) and the closing slope/intercept/R² expressions are one
    IEEE-identical double tree rounded at the end. x is re-centered at the
    data window's start so x² stays tiny; a production deployment over
    years of data re-centers per-group (subtract group mean x from the
    exact sums — algebraically the same co-moments) rather than widening
    the decimals. Plan shape: one partial-aggregated groupBy — the same
    single-shuffle profile as any grouped sum at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    x = F.expr(
        "timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)"
    ).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,6)")
    base = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    # explicit CASE guards: ANSI mode (Spark 4 default) errors on /0 for
    # a degenerate zero-variance group; oracle mirrors with NULLIF
    slope = F.when(vx != 0, cov / vx)
    intercept = F.when(vx != 0, (F.col("sy") - slope * F.col("sx")) / n)
    r2 = F.when(vx * vy != 0, (cov * cov) / (vx * vy))
    return base.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_hour"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


SQL_AGG_LINREG = """
    WITH base AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                             AS DECIMAL(18,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                             AS DECIMAL(18,0))
                        * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                             AS DECIMAL(18,0))
                        * CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                               AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS syy
        FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
               AS slope_per_hour,
           ROUND((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx)
                 / n, 6) AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r2
    FROM base
"""


MEDIAN_BUCKET_WIDTH = 1000  # price units per histogram bucket (pass 1)


def exact_median_twopass(df: DataFrame, value_col: str) -> DataFrame:
    """EXACT lower median of ``value_col`` without a global sort: the
    two-pass histogram selection that replaces ORDER BY on 100 TB.

    A naive exact median is a full sort of the column — a single-task
    catastrophe at scale. Instead: pass 1 builds a fixed-width bucket
    histogram (one partial-aggregated groupBy; the collected histogram is
    BOUNDED — value_range / MEDIAN_BUCKET_WIDTH rows, never data-sized), the
    driver walks the cumulative counts to find the bucket holding the
    target rank, and pass 2 re-scans ONLY that bucket — the range
    predicate is pushed into the parquet scan as min/max bucket bounds —
    and selects the in-bucket rank with TakeOrderedAndProject
    (per-partition top-r + driver merge of r rows, r ≤ bucket population
    ≈ n/buckets). At extreme scale the same narrowing recurses:
    re-histogram inside the bucket until the remnant fits one task —
    O(log) passes, each a linear scan that prunes ~1000×. Handles
    negative values (floor-division bucketing stays order-consistent);
    an empty input yields an empty result (matching the oracle's
    rank-window formulation), never a fabricated row.
    """
    price = dec2(F.col(value_col))
    hist = (
        df.groupBy(
            F.floor(price / MEDIAN_BUCKET_WIDTH).cast("bigint").alias("bucket")
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("bucket")
        .collect()  # bounded: one row per occupied value bucket
    )
    n = sum(r["cnt"] for r in hist)
    if n == 0:
        # empty input → empty RESULT, matching the rank-window oracle
        # (WHERE rn = … over zero rows): a filtered-to-empty slice at
        # scale composes downstream instead of killing the job
        return df.sparkSession.createDataFrame(
            [], "n bigint, median_price double"
        )
    k = (n + 1) // 2  # lower-median rank
    cum = 0
    for r in hist:
        if cum + r["cnt"] >= k:
            bucket, rank_in_bucket = r["bucket"], k - cum
            break
        cum += r["cnt"]
    lo = bucket * MEDIAN_BUCKET_WIDTH
    hi = (bucket + 1) * MEDIAN_BUCKET_WIDTH
    in_bucket = df.filter(
        (F.col(value_col) >= F.lit(lo)) & (F.col(value_col) < F.lit(hi))
    ).select(price.alias("price"))
    return (
        in_bucket.orderBy("price")
        .limit(rank_in_bucket)
        .agg(
            F.lit(n).cast("bigint").alias("n"),
            F.max("price").cast("double").alias("median_price"),
        )
    )


def q_agg_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: exact lower median of lineitem extended price.
    DuckDB oracle is the rank-window formulation of the identical lower
    median (rank ⌈n/2⌉)."""
    return exact_median_twopass(load(spark, sf_dir, "lineitem"), "l_extendedprice")


SQL_AGG_MEDIAN_TWOPASS = """
    WITH ranked AS (
        SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
               ROW_NUMBER() OVER (ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS rn,
               COUNT(*) OVER () AS n
        FROM lineitem)
    SELECT CAST(n AS BIGINT) AS n, CAST(price AS DOUBLE) AS median_price
    FROM ranked
    WHERE rn = CAST((n + 1) // 2 AS BIGINT)
"""


# log10(1 + 1/d) to 6 dp — fixed literals so no cross-engine libm log
BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fabricated-data screen (natural multi-scale amounts follow
    log10(1+1/d); synthetic or tampered figures usually don't).

    The first significant digit comes from the integer-part STRING
    (substring of the bigint cast) — fully portable, no cross-engine
    log10/pow float edge. One partial-aggregated groupBy to 9 rows, the
    total broadcast back as a scalar row; expected shares are fixed
    literals and every derived number is computed from already-rounded
    doubles so both engines agree bit-for-bit. Linear single-scan at any
    scale.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    exp = F.element_at(
        F.array(*[F.lit(BENFORD[d]) for d in range(1, 10)]), F.col("digit")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("obs_share", F.round(F.col("n") / F.col("total"), 6))
        .withColumn("benford_share", exp)
        .select(
            "digit",
            "n",
            "obs_share",
            "benford_share",
            F.round(F.abs(F.col("obs_share") - F.col("benford_share")), 6).alias(
                "abs_dev"
            ),
        )
    )


SQL_AGG_BENFORD = f"""
    WITH counts AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice >= 1
        GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM counts),
    scored AS (
        SELECT digit, n,
               ROUND(n * 1.0 / total, 6) AS obs_share,
               CASE digit
                   {' '.join(f'WHEN {d} THEN {BENFORD[d]}' for d in range(1, 10))}
               END AS benford_share
        FROM counts CROSS JOIN tot)
    SELECT digit, n, obs_share, benford_share,
           ROUND(ABS(obs_share - benford_share), 6) AS abs_dev
    FROM scored
"""


def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-group metrics → long (group, metric,
    value) rows — the inverse of agg_pivot and the shape BI/metric
    stores ingest. Runs on the decimal-exact pricing rollup, so the
    melted values hash-match; the unpivot itself is a zero-shuffle
    projection expansion (each input row emits one row per metric
    column, JVM-side)."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        sum_dec2(F.col("l_quantity")).alias("sum_qty"),
        sum_dec2(F.col("l_extendedprice")).alias("sum_base_price"),
        sum_revenue(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "sum_revenue"
        ),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_base_price", "sum_revenue"],
        variableColumnName="metric",
        valueColumnName="value",
    )


SQL_AGG_UNPIVOT = f"""
    WITH wide AS (
        SELECT l_returnflag,
               {SQL_SUM_DEC2.format(col='l_quantity')} AS sum_qty,
               {SQL_SUM_DEC2.format(col='l_extendedprice')} AS sum_base_price,
               {SQL_SUM_REVENUE} AS sum_revenue
        FROM lineitem GROUP BY l_returnflag)
    UNPIVOT wide ON sum_qty, sum_base_price, sum_revenue
    INTO NAME metric VALUE value
"""


def entropy_per_group(df: DataFrame, key: str, cat: str) -> DataFrame:
    """Shannon entropy of a categorical distribution per group — the
    behavioral-diversity signal (a user doing one thing vs everything;
    a source emitting one doc type vs a mix).

    Entropy is the log-of-ratio trap for cross-engine hashing: summing
    ``−p·ln p`` terms accumulates doubles in engine partition order.
    Instead the algebraic split ``H = ln(T) − (Σ n_i·ln n_i)/T`` puts
    the data-sized sum over terms that are PRE-ROUNDED to 9 decimals
    and quantized to DECIMAL(28,9) — exact, order-free addition — and
    leaves one final ln + one division + one round as the only float
    ops, a shared shape both engines evaluate identically. Two hash
    aggregations (cat counts, then per-key close), both partial-
    aggregated; the second reuses the first's partitioning modulo the
    dropped category column. Linear at any scale.
    """
    counts = df.groupBy(key, cat).agg(F.count("*").alias("n"))
    return entropy_close(counts, key)


def entropy_close(counts: DataFrame, key: str) -> DataFrame:
    """Close per-group entropy from a (key, category, n) count relation —
    shared by the batch operator and the streaming twin (whose counts are
    monotone mergeable state collapsed at the end)."""
    term = dec9(F.col("n") * F.log(F.col("n")))
    per_key = counts.groupBy(key).agg(
        F.sum("n").alias("total"),
        F.sum(term).alias("sterm"),
        F.count("*").alias("n_cats"),
    )
    raw = F.log(F.col("total").cast("double")) - (
        F.col("sterm").cast("double") / F.col("total").cast("double")
    )
    # term rounding can push H a few 1e-10 below its true value; a true-0
    # distribution then lands at a tiny NEGATIVE double, which round()
    # emits as -0.0 in DuckDB but +0.0 in Spark (decimal-string domain) —
    # clamp negatives to exact 0.0 before rounding on BOTH sides
    h = F.when(raw < 0, F.lit(0.0)).otherwise(raw)
    return per_key.select(
        key,
        "total",
        F.col("n_cats").cast("int").alias("n_cats"),
        F.round(h, 6).alias("entropy"),
        F.when(
            F.col("n_cats") > 1,
            F.round(h / F.log(F.col("n_cats").cast("double")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy_norm"),
    )


def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-user event-type entropy over ``events``."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    return entropy_per_group(ev, "user_id", "event_type")


SQL_AGG_ENTROPY = """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type),
    per_key AS (
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS total,
               SUM(CAST(ROUND(n * LN(n), 9) AS DECIMAL(28,9))) AS sterm,
               CAST(COUNT(*) AS INTEGER) AS n_cats
        FROM counts GROUP BY user_id),
    clamped AS (
        SELECT user_id, total, n_cats,
               CASE WHEN LN(CAST(total AS DOUBLE))
                         - CAST(sterm AS DOUBLE) / CAST(total AS DOUBLE) < 0
                    THEN 0.0
                    ELSE LN(CAST(total AS DOUBLE))
                         - CAST(sterm AS DOUBLE) / CAST(total AS DOUBLE)
               END AS h
        FROM per_key)
    SELECT user_id, total, n_cats,
           ROUND(h, 6) AS entropy,
           CASE WHEN n_cats > 1
                THEN ROUND(h / LN(CAST(n_cats AS DOUBLE)), 6)
                ELSE 0.0 END AS entropy_norm
    FROM clamped
"""


def q_agg_skewkurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series skewness and excess kurtosis of ``value`` — the
    shape-of-distribution profile (heavy tails, asymmetry) that mean/var
    alone miss; the 3rd/4th-moment extension of agg_stats.

    Engine-native SKEWNESS/KURTOSIS accumulate float central moments in
    partition order — unhashable cross-engine. Here x is quantized to
    DECIMAL(9,3) so the four raw power sums Σx..Σx⁴ stay EXACT decimals
    (490⁴ ≈ 6e10 at scale 12 — well inside precision 38; wider data
    re-centers per-group first, same co-moment algebra as agg_linreg),
    and the central-moment closings are one shared-shape double tree
    rounded once. Single partial-aggregated groupBy — the linear plan.
    """
    ev = load(spark, sf_dir, "events")
    # integer CENTS, not scaled decimals: the values are cent-exact, so
    # u = value·100 is an exact small integer and u⁴ stays a plain
    # integer — sidestepping both engines' decimal-multiply width rules
    # (DuckDB overflows x³ at width 18; Spark silently reduces scale past
    # precision 38 on x⁴). Spark stages the powers through scale-0
    # decimals (no int128); DuckDB runs them in HUGEINT. The power sums
    # divide back by 10^(2k) in the double closing — one identical op.
    u = F.round(F.col("value") * 100).cast("decimal(10,0)")
    u2 = (u * u).cast("decimal(20,0)")
    u3 = (u2 * u).cast("decimal(30,0)")
    u4 = (u2 * u2).cast("decimal(38,0)")
    base = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(u).cast("double") / F.lit(1e2)).alias("s1"),
        (F.sum(u2).cast("double") / F.lit(1e4)).alias("s2"),
        (F.sum(u3).cast("double") / F.lit(1e6)).alias("s3"),
        (F.sum(u4).cast("double") / F.lit(1e8)).alias("s4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - F.lit(3.0) * mean * (F.col("s2") / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mean * (F.col("s3") / n)
        + F.lit(6.0) * mean * mean * (F.col("s2") / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return base.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_value"),
        F.when(m2 > 0, F.round(m3 / F.pow(m2, F.lit(1.5)), 6)).alias("skewness"),
        F.when(m2 > 0, F.round(m4 / (m2 * m2) - F.lit(3.0), 6)).alias(
            "excess_kurtosis"
        ),
    )


SQL_AGG_SKEWKURT = """
    WITH base AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u) AS DOUBLE) / 1e2 AS s1,
               CAST(SUM(u * u) AS DOUBLE) / 1e4 AS s2,
               CAST(SUM(u * u * u) AS DOUBLE) / 1e6 AS s3,
               CAST(SUM(u * u * u * u) AS DOUBLE) / 1e8 AS s4
        FROM (SELECT event_type,
                     CAST(ROUND(value * 100, 0) AS HUGEINT) AS u
              FROM events)
        GROUP BY event_type),
    closed AS (
        SELECT event_type, n,
               s1 / CAST(n AS DOUBLE) AS mean,
               s2 / CAST(n AS DOUBLE)
                 - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
               s3 / CAST(n AS DOUBLE)
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                 + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                       * (s1 / CAST(n AS DOUBLE)) AS m3,
               s4 / CAST(n AS DOUBLE)
                 - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                 + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                       * (s2 / CAST(n AS DOUBLE))
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                       * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
        FROM base)
    SELECT event_type, n,
           ROUND(mean, 6) AS mean_value,
           CASE WHEN m2 > 0 THEN ROUND(m3 / POW(m2, 1.5), 6) END AS skewness,
           CASE WHEN m2 > 0 THEN ROUND(m4 / (m2 * m2) - 3.0, 6) END
               AS excess_kurtosis
    FROM closed
"""


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Gini coefficient of ``value`` — the concentration /
    inequality measure (is the metric spread evenly or carried by a few
    events?), complementing entropy's categorical diversity.

    Closed form on the ascending-sorted values: G = 2·Σ(i·xᵢ)/(n·Σx)
    − (n+1)/n. The rank window partitions PER SERIES (never global;
    row_number with a unique tiebreak — rank permutations within equal
    values leave Σi·xᵢ unchanged, so the tiebreak is for determinism
    only), and both Σx and Σi·xᵢ are exact decimals (cent-exact values ×
    bigint ranks), closing in one rounded double tree. One exchange
    carries the window AND the groupBy (same key). Skew = largest single
    series; salt the rank like any per-key window if one series outgrows
    a partition.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("x"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    base = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("six"),
    )
    n = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("six") / (n * F.col("sx"))
        - (n + F.lit(1.0)) / n
    )
    return base.select(
        "event_type",
        "n",
        F.when(F.col("sx") != 0, F.round(gini, 6)).alias("gini"),
    )


SQL_AGG_GINI = """
    WITH ranked AS (
        SELECT event_type,
               CAST(value AS DECIMAL(18,2)) AS x,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id) AS i
        FROM events),
    base AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(i * x) AS DOUBLE) AS six
        FROM ranked GROUP BY event_type)
    SELECT event_type, n,
           CASE WHEN sx <> 0
                THEN ROUND(2.0 * six / (CAST(n AS DOUBLE) * sx)
                           - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
           END AS gini
    FROM base
"""


TOPK_SHARE_K = 10


def q_agg_topk_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: the share of segment
    account balance held by its top-``TOPK_SHARE_K`` customers — the
    Pareto question (how dependent is each segment on a few whales?)
    as one exact report row per segment.

    Per-segment rank is a window PARTITIONED BY SEGMENT with
    WindowGroupLimit-eligible rank≤K pruning semantics folded into a
    conditional aggregation instead of a join-back: one exchange
    carries the rank window AND the closing rollup (same key), sums are
    cent-exact decimals, and the share is one rounded integer-exact
    ratio. At 100 TB this is the same single-shuffle envelope as any
    per-key top-k.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    ranked = cust.select(
        "c_mktsegment",
        dec2(F.col("c_acctbal")).alias("bal"),
        F.row_number().over(w).alias("rk"),
    )
    topk = F.when(F.col("rk") <= TOPK_SHARE_K, F.col("bal")).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("bal").cast("double").alias("total_bal"),
            F.sum(topk).cast("double").alias("topk_bal"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            "total_bal",
            "topk_bal",
            # CASE-guard: ANSI mode (Spark 4 default) raises on /0 even
            # for doubles; a zero-sum segment must read NULL, matching
            # the oracle's NULLIF-style guard, not crash the report
            F.when(
                F.col("total_bal") != 0,
                F.round(F.col("topk_bal") / F.col("total_bal"), 6),
            ).alias("topk_share"),
        )
    )


SQL_AGG_TOPK_SHARE = f"""
    WITH ranked AS (
        SELECT c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(bal) AS DOUBLE) AS total_bal,
           CAST(SUM(CASE WHEN rk <= {TOPK_SHARE_K} THEN bal
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS topk_bal,
           CASE WHEN CAST(SUM(bal) AS DOUBLE) <> 0
                THEN ROUND(CAST(SUM(CASE WHEN rk <= {TOPK_SHARE_K} THEN bal
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                           / CAST(SUM(bal) AS DOUBLE), 6)
           END AS topk_share
    FROM ranked GROUP BY c_mktsegment
"""


CI_Z = 1.959964  # 95% two-sided normal quantile, fixed literal


def q_agg_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type reach with a WILSON 95% confidence interval: the
    fraction of users who performed the event in week one, reported the way a
    decision should read it — a range, not a bare point estimate (the
    difference between "42% ± noise" and "42%" is the whole reason
    experiment dashboards exist; Wilson stays sane at extreme rates
    where the naive ±z√(pq/n) interval leaks outside [0,1]).

    Distinct-user reach per type and the total user count are two hash
    aggregations; the Wilson bounds close from exact integer counts in
    one shared double tree (fixed z literal — no cross-engine inverse-
    normal), rounded once. Linear, two bounded relations.
    """
    ev = load(spark, sf_dir, "events")
    # reach within the FIRST WEEK (fixed anchor): lifetime reach is 1.0
    # for every type in this data — the windowed rate is the
    # non-degenerate question ("how many users did X in week 1?")
    week1 = ev.filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    )
    # countDistinct on BOTH sides: distinct()+count(*) would count a
    # NULL user_id in the numerator that the denominator excludes,
    # letting k exceed n and the Wilson sqrt go NaN
    reach = week1.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("k")
    )
    total = ev.agg(F.countDistinct("user_id").alias("n"))
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    z2 = F.lit(CI_Z * CI_Z)
    p = k / n
    center = (p + z2 / (F.lit(2.0) * n)) / (F.lit(1.0) + z2 / n)
    half = (
        F.lit(CI_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / (F.lit(1.0) + z2 / n)
    )
    return (
        reach.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "k",
            "n",
            F.round(p, 6).alias("rate"),
            F.round(center - half, 6).alias("ci_lo"),
            F.round(center + half, 6).alias("ci_hi"),
        )
    )


SQL_AGG_CONVERSION_CI = f"""
    WITH reach AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS k
        FROM events
        WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY event_type),
    total AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events)
    SELECT event_type, k, n,
           ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + {CI_Z * CI_Z} / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + {CI_Z * CI_Z} / CAST(n AS DOUBLE))
                 - {CI_Z}
                   * SQRT(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          / CAST(n AS DOUBLE)
                          + {CI_Z * CI_Z}
                            / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + {CI_Z * CI_Z} / CAST(n AS DOUBLE)), 6) AS ci_lo,
           ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + {CI_Z * CI_Z} / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + {CI_Z * CI_Z} / CAST(n AS DOUBLE))
                 + {CI_Z}
                   * SQRT(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          / CAST(n AS DOUBLE)
                          + {CI_Z * CI_Z}
                            / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + {CI_Z * CI_Z} / CAST(n AS DOUBLE)), 6) AS ci_hi
    FROM reach CROSS JOIN total
"""


TRIM_PCT = 10  # percent trimmed from EACH tail


def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment 10%-trimmed mean of account balance — the robust
    average that survives whales and write-off outliers where the plain
    mean swings (and the standard robust-location estimator between
    mean and median).

    Trim bounds are RANK-based and exact: per-segment row_number + count
    over one window pass, keep ranks in (⌊n·p⌋, n−⌊n·p⌋], close the mean
    from cent-exact decimal sums — the rank window and the closing
    groupBy share the single segment-keyed exchange (the topk_share
    envelope). Plain mean reported beside it so the robustness delta is
    visible in the same row.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wall = Window.partitionBy("c_mktsegment")
    ranked = cust.select(
        "c_mktsegment",
        dec2(F.col("c_acctbal")).alias("bal"),
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wall).alias("n"),
    )
    cut = F.floor(F.col("n") * TRIM_PCT / 100).cast("long")
    keep = (F.col("rk") > cut) & (F.col("rk") <= F.col("n") - cut)
    kept_bal = F.when(keep, F.col("bal")).otherwise(F.lit(0).cast("decimal(18,2)"))
    base = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        F.sum("bal").cast("double").alias("sum_all"),
        F.sum(kept_bal).cast("double").alias("sum_kept"),
    )
    return base.select(
        "c_mktsegment",
        "n_rows",
        "n_kept",
        F.round(F.col("sum_all") / F.col("n_rows").cast("double"), 6).alias(
            "mean_bal"
        ),
        F.when(
            F.col("n_kept") > 0,
            F.round(F.col("sum_kept") / F.col("n_kept").cast("double"), 6),
        ).alias("trimmed_mean_bal"),
    )


SQL_AGG_TRIMMED_MEAN = f"""
    WITH ranked AS (
        SELECT c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS rk,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer),
    base AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN rk > n * {TRIM_PCT} // 100
                                  AND rk <= n - n * {TRIM_PCT} // 100
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(bal) AS DOUBLE) AS sum_all,
               CAST(SUM(CASE WHEN rk > n * {TRIM_PCT} // 100
                                  AND rk <= n - n * {TRIM_PCT} // 100
                             THEN bal ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS sum_kept
        FROM ranked GROUP BY c_mktsegment)
    SELECT c_mktsegment, n_rows, n_kept,
           ROUND(sum_all / CAST(n_rows AS DOUBLE), 6) AS mean_bal,
           CASE WHEN n_kept > 0
                THEN ROUND(sum_kept / CAST(n_kept AS DOUBLE), 6)
           END AS trimmed_mean_bal
    FROM base
"""


def q_agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey outlier fences per segment: rank-exact quartiles (type-1,
    value at rank ⌈p·n⌉ — no interpolation, so cross-engine exact),
    IQR, the 1.5·IQR fences, and how many rows fall outside each — the
    boxplot-and-flag report robust monitoring is built on.

    One rank window per segment (shared exchange with the closing
    rollup, the trimmed-mean envelope): the quartile values surface via
    conditional MAX window functions at the two target ranks, fences
    close per row, and the outlier counts fold into the final segment
    rollup — no second scan, no join-back.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wall = Window.partitionBy("c_mktsegment")
    n = F.count("*").over(wall)
    ranked = cust.select(
        "c_mktsegment",
        dec2(F.col("c_acctbal")).alias("bal"),
        F.row_number().over(w).alias("rk"),
        F.ceil(n * F.lit(0.25)).alias("r1"),
        F.ceil(n * F.lit(0.75)).alias("r3"),
    )
    # two stacked selects over the SAME partition spec: quartiles first,
    # then fences + outlier indicators over the quartile columns —
    # Catalyst plans both Window passes behind ONE exchange + sort (the
    # sessionize precedent), and the closing groupBy collapses each
    # segment's identical rows. No join-back, no second scan.
    quart = ranked.select(
        "c_mktsegment",
        "bal",
        F.max(F.when(F.col("rk") == F.col("r1"), F.col("bal")))
        .over(wall)
        .cast("double")
        .alias("q1"),
        F.max(F.when(F.col("rk") == F.col("r3"), F.col("bal")))
        .over(wall)
        .cast("double")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - F.lit(1.5) * iqr
    hi = F.col("q3") + F.lit(1.5) * iqr
    return (
        quart.select(
            "c_mktsegment",
            "bal",
            "q1",
            "q3",
            lo.alias("fence_lo"),
            hi.alias("fence_hi"),
        )
        .groupBy("c_mktsegment", "q1", "q3", "fence_lo", "fence_hi")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("bal").cast("double") < F.col("fence_lo"), 1).otherwise(0)
            ).alias("n_below"),
            F.sum(
                F.when(F.col("bal").cast("double") > F.col("fence_hi"), 1).otherwise(0)
            ).alias("n_above"),
        )
        .select(
            "c_mktsegment",
            "n_rows",
            "q1",
            "q3",
            F.round("fence_lo", 6).alias("fence_lo"),
            F.round("fence_hi", 6).alias("fence_hi"),
            "n_below",
            "n_above",
        )
    )


SQL_AGG_TUKEY = """
    WITH ranked AS (
        SELECT c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS rk,
               CAST(CEIL(COUNT(*) OVER (PARTITION BY c_mktsegment) * 0.25)
                    AS BIGINT) AS r1,
               CAST(CEIL(COUNT(*) OVER (PARTITION BY c_mktsegment) * 0.75)
                    AS BIGINT) AS r3
        FROM customer),
    base AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MAX(CASE WHEN rk = r1 THEN bal END) AS DOUBLE) AS q1,
               CAST(MAX(CASE WHEN rk = r3 THEN bal END) AS DOUBLE) AS q3
        FROM ranked GROUP BY c_mktsegment),
    fences AS (
        SELECT c_mktsegment, n_rows, q1, q3,
               q1 - 1.5 * (q3 - q1) AS fence_lo,
               q3 + 1.5 * (q3 - q1) AS fence_hi
        FROM base)
    SELECT f.c_mktsegment, f.n_rows, f.q1, f.q3,
           ROUND(f.fence_lo, 6) AS fence_lo,
           ROUND(f.fence_hi, 6) AS fence_hi,
           CAST(SUM(CASE WHEN CAST(r.bal AS DOUBLE) < f.fence_lo
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
           CAST(SUM(CASE WHEN CAST(r.bal AS DOUBLE) > f.fence_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above
    FROM ranked r JOIN fences f USING (c_mktsegment)
    GROUP BY f.c_mktsegment, f.n_rows, f.q1, f.q3, f.fence_lo, f.fence_hi
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

BOOT_B = 100  # bootstrap replicates
BOOT_LO_RANK = 3  # ceil(0.025 * B): lower 95% CI bound (discrete quantile)
BOOT_HI_RANK = 98  # ceil(0.975 * B)
# Cumulative Poisson(1) CDF scaled to the 60-bit hash space, floor'd to
# exact integer literals: replicate weights come from ONE integer
# comparison chain per (row, replicate) — no float anywhere in the draw,
# so Spark and DuckDB produce identical weights by construction.
# P(X<=k) for k=0..7; residual mass above 7 (~1e-5) caps the weight at 8.
_POIS_T = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
)


def _poisson_weight(h):
    """Inverse-CDF Poisson(1) draw from a 60-bit uniform hash column."""
    w = F.lit(8)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(h < F.lit(_POIS_T[k]), F.lit(k)).otherwise(w)
    return w


_SQL_POIS_CASE = (
    "CASE "
    + " ".join(f"WHEN h < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    + " ELSE 8 END"
)


def q_agg_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean per-line revenue
    (1995Q1) via the POISSON bootstrap — the resampling scheme that
    actually works on distributed data: the classic bootstrap needs n
    draws from a global index (one shuffle per replicate), while
    Poisson(1) weights are independent per row, so ALL B replicates
    materialize in one pass — each row explodes into (row, b) with a
    deterministic hash-drawn weight, then one partial-aggregated
    groupBy b. This is the standard large-scale uncertainty estimate
    for pipeline metrics ("did mean revenue / doc quality really move
    between snapshots, or is it inside the noise?").

    Exactness: weights come from integer threshold comparisons on the
    portable 60-bit hash (no float in the draw); each replicate's
    weighted revenue sum is exact decimal; the replicate MEANS are one
    identical double tree; the CI bounds are discrete order statistics
    (rank 3 / 98 of 100) — no quantile interpolation to diverge on.
    Scale: B multiplies map-side work only; the shuffle carries
    B × partitions partial rows and the close runs on B rows. The
    shipdate filter prunes at the parquet scan.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1995-03-31")
    )
    x = dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
    staged = li.select(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
        x.alias("x"),
    )
    rep = staged.select(
        "rk", "x", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("rk"), F.col("b").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    means = (
        rep.select("b", _poisson_weight(h).alias("w"), "x")
        .groupBy("b")
        .agg(F.sum(F.col("w") * F.col("x")).alias("sx"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select(
            "b",
            (F.col("sx").cast("double") / F.col("sw").cast("double")).alias("m"),
        )
    )
    ranked = means.select(
        "m",
        "b",
        F.row_number().over(Window.orderBy(F.col("m").asc(), F.col("b").asc())).alias("r"),
    )
    point = staged.agg(
        F.count("*").alias("n_rows"),
        (F.sum("x").cast("double") / F.count("*")).alias("point_mean"),
    )
    ci = ranked.agg(
        F.round(F.min(F.when(F.col("r") == BOOT_LO_RANK, F.col("m"))), 6).alias(
            "ci_lo"
        ),
        F.round(F.min(F.when(F.col("r") == BOOT_HI_RANK, F.col("m"))), 6).alias(
            "ci_hi"
        ),
        F.count("*").alias("n_replicates"),
    )
    return (
        point.crossJoin(ci)
        .filter(F.col("n_rows") > 0)
        .select(
            "n_rows",
            F.round("point_mean", 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            "n_replicates",
        )
    )


SQL_AGG_POISSON_BOOTSTRAP = f"""
    WITH staged AS (
        SELECT CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR) AS rk,
               CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS x
        FROM lineitem
        WHERE l_shipdate >= '1995-01-01' AND l_shipdate <= '1995-03-31'),
    rep AS (
        SELECT rk, x, b,
               ('0x' || substr(md5(rk || '|' || CAST(b AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM staged CROSS JOIN (SELECT UNNEST(RANGE({BOOT_B})) AS b)),
    means AS (
        SELECT b,
               CAST(SUM(({_SQL_POIS_CASE}) * x) AS DOUBLE)
                   / CAST(SUM({_SQL_POIS_CASE}) AS DOUBLE) AS m
        FROM rep GROUP BY b
        HAVING SUM({_SQL_POIS_CASE}) > 0),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC, b ASC) AS r FROM means),
    point AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(x) AS DOUBLE) / COUNT(*) AS point_mean
        FROM staged),
    ci AS (
        SELECT ROUND(MIN(CASE WHEN r = {BOOT_LO_RANK} THEN m END), 6) AS ci_lo,
               ROUND(MIN(CASE WHEN r = {BOOT_HI_RANK} THEN m END), 6) AS ci_hi,
               CAST(COUNT(*) AS BIGINT) AS n_replicates
        FROM ranked)
    SELECT n_rows, ROUND(point_mean, 6) AS point_mean, ci_lo, ci_hi, n_replicates
    FROM point CROSS JOIN ci
    WHERE n_rows > 0
"""


SMALL_QTY_FRACTION = 0.2  # TPC-H Q17's "20% of the average quantity"


def q_agg_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated-average filter, per brand: revenue
    from lineitems whose quantity is below {SMALL_QTY_FRACTION}× their
    part's average quantity (Q17 computes the lost revenue of such
    small orders as sum/7; kept per-brand here so the result is a
    stable multi-row relation).

    Decorrelation shape: the classic plan scans lineitem twice (per-part
    AVG, then the filtered rejoin). Here ONE shuffle on l_partkey
    carries the per-part exact-decimal quantity sum and count as
    unordered window aggregates, and the small-quantity filter runs in
    the same pass — the fact never rescans, the brand dimension is a
    broadcast. Exactness: the threshold is exact-sum/count in one IEEE
    expression identical on both engines; the strict < comparison sees
    cent-exact doubles; the revenue rollup is a decimal sum."""
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(
            load(spark, sf_dir, "part").select("p_partkey", "p_brand")
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    thresh = F.lit(SMALL_QTY_FRACTION) * (
        F.sum(dec2(F.col("l_quantity"))).over(w).cast("double")
        / F.count("*").over(w)
    )
    return (
        li.withColumn("qty_threshold", thresh)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .groupBy("p_brand")
        .agg(
            sum_dec2(F.col("l_extendedprice")).alias("small_qty_revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_AGG_SMALL_QTY_REVENUE = f"""
    WITH li AS (
        SELECT p_brand, l_partkey, l_quantity, l_extendedprice,
               {SMALL_QTY_FRACTION} *
               (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                         OVER (PARTITION BY l_partkey) AS DOUBLE)
                / COUNT(*) OVER (PARTITION BY l_partkey)) AS qty_threshold
        FROM lineitem JOIN part ON l_partkey = p_partkey)
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS small_qty_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM li WHERE l_quantity < qty_threshold
    GROUP BY p_brand
"""


LARGE_ORDER_MIN_QTY = 250  # TPC-H Q18's "sum(l_quantity) > 300" analog


def q_agg_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style group-by-HAVING semi-join: orders whose total
    lineitem quantity exceeds {LARGE_ORDER_MIN_QTY}, with their customer
    — the IN (SELECT .. GROUP BY .. HAVING SUM > k) pattern.

    Scale shape: lineitem collapses to one exact-decimal quantity sum
    per order (map-side partial agg) BEFORE any join; the HAVING filter
    then shrinks that rollup to the rare heavy orders, so the joins to
    orders and customer move only qualifying keys (at 100 TB the rollup
    side is small enough that AQE broadcasts it). No fact-to-fact join
    of raw lineitems ever happens. Exactness: decimal quantity sum,
    cent-exact o_totalprice passthrough."""
    heavy = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum_dec2(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_MIN_QTY)
    )
    return (
        heavy.join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


SQL_AGG_LARGE_ORDERS = f"""
    WITH heavy AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               > {LARGE_ORDER_MIN_QTY})
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM heavy
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


PROMO_MONTH = ("1996-03-01", "1996-04-01")  # Q14's one-month window


def q_agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: the share of one month's revenue that came from
    promotional parts — the conditional-aggregate ratio report
    (100 · Σ rev[p_type='PROMO'] / Σ rev).

    Scale shape: the month filter pushes to the lineitem scan; the join
    to part (projected to partkey + the boolean) is deliberately left
    to AQE — unlike Q19's 3-brand slice this projection is the WHOLE
    part table, which auto-broadcasts at small SF (pinned) but must be
    allowed to go sort-merge at 100 TB where 200 M parts no longer fit
    an executor (a forced broadcast() hint here would OOM, the one
    dimension join in this suite where the hint would be wrong); then
    one partial-aggregated fold to a single row — no window, no second
    pass. Exactness: both sums are exact decimals; the share is one
    shared IEEE division of their double casts, NULL (not a crash) on
    an empty month because SUM over zero rows is NULL on both
    engines."""
    from ..functions.exact import revenue

    lo, hi = PROMO_MONTH
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
    )
    pt = load(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    rev = revenue(F.col("l_extendedprice"), F.col("l_discount"))
    joined = li.join(pt, F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.agg(
        F.count("*").alias("n_items"),
        F.sum(F.when(F.col("is_promo"), rev)).alias("promo_rev"),
        F.sum(rev).alias("total_rev"),
    )
    return agg.select(
        "n_items",
        F.col("promo_rev").cast("double").alias("promo_revenue"),
        F.col("total_rev").cast("double").alias("total_revenue"),
        F.round(
            F.lit(100.0)
            * F.col("promo_rev").cast("double")
            / F.col("total_rev").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


SQL_AGG_PROMO_SHARE = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2))) END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS total_revenue,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                     CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))) END)
                     AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE), 6) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{PROMO_MONTH[0]}'
      AND l_shipdate <  TIMESTAMP '{PROMO_MONTH[1]}'
"""


def q_agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) preference query over part: the parts
    not dominated on (minimize p_retailprice, maximize p_size) — x
    dominates y iff x is no worse on both dimensions and strictly
    better on at least one (Börzsönyi, Kossmann & Stocker, ICDE 2001).
    Same-price-same-size duplicates all survive (no strict edge between
    them); a same-price larger-size row dominates its smaller peers.

    Spark plan — linear, not the textbook quadratic self-join: (1) parts
    collapse to one (price, max size) row per DISTINCT price (partial-agg
    groupBy — the only full-data exchange); (2) one running-max window
    over that price-level rollup, ordered by price with a rows-frame
    ending at -1, gives each level the best size among STRICTLY cheaper
    levels (one row per price ⇒ the previous row really is strictly
    cheaper); a level survives iff its best size strictly exceeds that
    prefix max; (3) the surviving frontier (tiny by construction —
    strictly increasing sizes over increasing prices) broadcasts back to
    prune the base scan. The unpartitioned window runs over the
    domain-sized rollup, not the data — the same aggregate-first shape
    as graph_hits' L1 totals; at extreme price cardinality decompose it
    (per-bucket max + prefix over buckets + carry-in), the decomposed
    prefix pattern used for corpus offsets. The DuckDB oracle keeps the
    textbook NOT EXISTS dominance form, so the grading hash proves the
    windowed rewrite exact.
    """
    part = load(spark, sf_dir, "part")
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        per_price.withColumn("prev_best", F.max("best_size").over(w))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("p_retailprice", "best_size")
    )
    return (
        part.join(F.broadcast(frontier), ["p_retailprice"])
        .filter(F.col("p_size") == F.col("best_size"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


SQL_AGG_SKYLINE = """
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


# (name, spark type is numeric) — orders columns profiled; timestamps and
# strings get NULL min/max (cross-engine timestamp/string FORMATTING of
# extrema is not hash-portable; their null/distinct stats still are).
_PROFILE_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
)


def q_agg_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling pass over orders — the Deequ/Great-Expectations
    analyzer shape: per column, non-null count, null count, exact
    distinct count, and (numeric columns) min/max as doubles.

    Spark plan: ONE aggregate over ONE scan computes every metric for
    every column simultaneously (count + count_distinct + min + max per
    column in a single agg); the per-column rows are then unpivoted from
    the single result row with stack() — driver-sized, no second scan.
    Multiple exact count-distincts in one aggregate compile to Catalyst's
    expand operator (one duplicated row-group per distinct aggregate)
    with partial aggregation below the shuffle — the row multiplier is
    the profiled-column count, the classic exact-profile cost; at 100 TB
    swap count_distinct for approx_count_distinct and the expand
    disappears (single-pass HLL sketches), the documented Deequ
    trade-off. The oracle is the naive per-column UNION ALL (six scans),
    so the hash also proves the one-pass fusion semantics-preserving.
    """
    orders = load(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("_total")]
    for name, is_num in _PROFILE_COLS:
        aggs.append(F.count(F.col(name)).alias(f"{name}__nn"))
        aggs.append(F.count_distinct(F.col(name)).alias(f"{name}__dc"))
        if is_num:
            aggs.append(F.min(name).cast("double").alias(f"{name}__mn"))
            aggs.append(F.max(name).cast("double").alias(f"{name}__mx"))
    one = orders.agg(*aggs)
    stack_args = []
    for name, is_num in _PROFILE_COLS:
        mn = f"`{name}__mn`" if is_num else "CAST(NULL AS DOUBLE)"
        mx = f"`{name}__mx`" if is_num else "CAST(NULL AS DOUBLE)"
        stack_args.append(
            f"'{name}', `{name}__nn`, _total - `{name}__nn`, "
            f"`{name}__dc`, {mn}, {mx}"
        )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) AS "
        "(column_name, non_nulls, nulls, distinct_cnt, min_val, max_val)"
    )


SQL_AGG_COLUMN_PROFILE = "\nUNION ALL\n".join(
    f"""
    SELECT '{name}' AS column_name,
           CAST(COUNT({name}) AS BIGINT) AS non_nulls,
           CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS nulls,
           CAST(COUNT(DISTINCT {name}) AS BIGINT) AS distinct_cnt,
           {f"CAST(MIN({name}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"} AS min_val,
           {f"CAST(MAX({name}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"} AS max_val
    FROM orders
    """
    for name, is_num in _PROFILE_COLS
)

QUERIES = {
    "agg_skyline": Query(q_agg_skyline, SQL_AGG_SKYLINE),
    "agg_column_profile": Query(q_agg_column_profile, SQL_AGG_COLUMN_PROFILE),
    "agg_promo_share": Query(q_agg_promo_share, SQL_AGG_PROMO_SHARE),
    "agg_small_qty_revenue": Query(
        q_agg_small_qty_revenue, SQL_AGG_SMALL_QTY_REVENUE
    ),
    "agg_large_orders": Query(q_agg_large_orders, SQL_AGG_LARGE_ORDERS),
    "agg_poisson_bootstrap": Query(
        q_agg_poisson_bootstrap, SQL_AGG_POISSON_BOOTSTRAP
    ),
    "agg_mode": Query(q_agg_mode, SQL_AGG_MODE),
    "agg_topk_share": Query(q_agg_topk_share, SQL_AGG_TOPK_SHARE),
    "agg_conversion_ci": Query(q_agg_conversion_ci, SQL_AGG_CONVERSION_CI),
    "agg_trimmed_mean": Query(q_agg_trimmed_mean, SQL_AGG_TRIMMED_MEAN),
    "agg_tukey_fences": Query(q_agg_tukey_fences, SQL_AGG_TUKEY),
    "agg_entropy": Query(q_agg_entropy, SQL_AGG_ENTROPY),
    "agg_skewkurt": Query(q_agg_skewkurt, SQL_AGG_SKEWKURT),
    "agg_gini": Query(q_agg_gini, SQL_AGG_GINI),
    "agg_benford": Query(q_agg_benford, SQL_AGG_BENFORD),
    "agg_unpivot": Query(q_agg_unpivot, SQL_AGG_UNPIVOT),
    "agg_corr": Query(q_agg_corr, SQL_AGG_CORR),
    "agg_pricing_summary": Query(q_agg_pricing_summary, SQL_AGG_PRICING, headline=True),
    "agg_argmax": Query(q_agg_argmax, SQL_AGG_ARGMAX),
    "agg_pivot": Query(q_agg_pivot, SQL_AGG_PIVOT),
    "agg_count_distinct": Query(q_agg_count_distinct, SQL_AGG_COUNT_DISTINCT),
    "agg_rollup": Query(q_agg_rollup, SQL_AGG_ROLLUP),
    "agg_cube": Query(q_agg_cube, SQL_AGG_CUBE),
    "agg_grouping_sets": Query(q_agg_grouping_sets, SQL_AGG_GROUPING_SETS),
    "agg_stats": Query(q_agg_stats, SQL_AGG_STATS),
    "agg_approx_distinct": Query(q_agg_approx_distinct, None),
    "agg_percentile": Query(q_agg_percentile, SQL_AGG_PERCENTILE),
    "agg_time_rollup": Query(q_agg_time_rollup, SQL_AGG_TIME_ROLLUP),
    "agg_histogram": Query(q_agg_histogram, SQL_AGG_HISTOGRAM),
    "agg_linreg": Query(q_agg_linreg, SQL_AGG_LINREG),
    "agg_median_twopass": Query(q_agg_median_twopass, SQL_AGG_MEDIAN_TWOPASS),
}
