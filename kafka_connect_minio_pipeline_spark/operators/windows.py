"""Window-function operators (SURVEY.md §2.4 windows + sorts/top-k rows).

Every ORDER BY inside a window carries a unique tiebreaker column
(o_orderkey) — without it row_number/lag/running-sum are nondeterministic
under ties and can never hash-match an oracle (or even a re-run of the
same plan). rank/dense_rank are exercised over a deliberately coarse
bucketed ordering so real ties exist.

Scale: a window over partitionBy(k) is one hash shuffle on k plus a
per-partition sort — same cost envelope as groupBy(k). The top-k-per-group
pattern (row_number ≤ n) is the scalable replacement for per-group
ORDER BY/LIMIT loops; global top-k uses orderBy().limit(k) which Spark
executes as per-partition partial top-k + single-reduce (TakeOrdered),
never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec2
from ..registry import Query
from ..tables import load


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number (unique ordering) + rank/dense_rank (bucketed, with ties)
    per customer."""
    orders = load(spark, sf_dir, "orders")
    unique_order = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    bucket = F.floor(F.col("o_totalprice") / 10000)
    bucketed = Window.partitionBy("o_custkey").orderBy(bucket.desc())
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(unique_order).alias("rn"),
        F.rank().over(bucketed).alias("rnk"),
        F.dense_rank().over(bucketed).alias("drnk"),
    )


SQL_WINDOW_RANK = """
    SELECT o_orderkey, o_custkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
           CAST(RANK() OVER (PARTITION BY o_custkey
                ORDER BY FLOOR(o_totalprice / 10000) DESC) AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY o_custkey
                ORDER BY FLOOR(o_totalprice / 10000) DESC) AS INTEGER) AS drnk
    FROM orders
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order history: previous order date, next order value,
    inter-order gap in days."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        prev_date.alias("prev_order_date"),
        F.lead(F.col("o_totalprice")).over(w).alias("next_total"),
        F.datediff(F.col("o_orderdate").cast("date"), prev_date.cast("date"))
        .cast("long")
        .alias("days_since_prev"),
    )


SQL_WINDOW_LAG_LEAD = """
    SELECT o_orderkey, o_custkey, o_orderdate,
           LAG(o_orderdate) OVER w AS prev_order_date,
           LEAD(o_totalprice) OVER w AS next_total,
           CAST(DATE_DIFF('day',
                CAST(LAG(o_orderdate) OVER w AS DATE),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving sum per customer (frame semantics).

    Decimal accumulators keep the running values exact, so the window frame
    results hash-match the oracle regardless of partition layout.
    """
    orders = load(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = base.rowsBetween(-2, Window.currentRow)
    price = dec2(F.col("o_totalprice"))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(price).over(running).cast("double").alias("running_total"),
        F.sum(price).over(moving).cast("double").alias("moving_sum3"),
        F.count("*").over(running).alias("order_seq"),
    )


SQL_WINDOW_RUNNING = """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS moving_sum3,
           CAST(COUNT(*) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS order_seq
    FROM orders
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per customer (distribution family).

    percent_rank and cume_dist are exact small-integer ratios — a single
    IEEE division on identical operands in both engines, so no rounding
    is needed for the hash. The ordering carries the unique o_orderkey
    tiebreaker to make ntile deterministic.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_WINDOW_DISTRIBUTION = """
    SELECT o_orderkey, o_custkey,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): for each order, how many
    of the same customer's orders fall within 10k price below it, and
    their exact total. Demonstrates rangeBetween semantics — peers are
    defined by the ORDER BY value, so ties aggregate together."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-10000, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).alias("n_within_10k"),
        F.sum(dec2(F.col("o_totalprice"))).over(w).cast("double").alias("sum_within_10k"),
    )


SQL_WINDOW_RANGE_FRAME = """
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_within_10k,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS sum_within_10k
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
"""


def q_window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable per-group top-k idiom."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price"), "rn")
    )


SQL_WINDOW_TOPN = """
    SELECT o_custkey, o_orderkey, o_totalprice AS price,
           CAST(rn AS INTEGER) AS rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
"""


def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders: orderBy+limit → TakeOrderedAndProject physical
    plan (per-partition heap + driver merge, no global sort/shuffle)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("price"))
    )


SQL_TOPK_GLOBAL = """
    SELECT o_orderkey, o_custkey, o_totalprice AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user — "how many distinct event types
    has this user touched so far" (feature-engineering staple; neither
    Spark nor DuckDB allows DISTINCT inside a window frame).

    The distributed decomposition: flag each row that is the FIRST
    occurrence of its (user, type) — row_number over (user, type) — then
    running-sum the flags over (user). Two window passes, each
    hash-partitioned on its keys and per-partition sorted; the second
    reuses the first's user_id grouping modulo the dropped type column.
    No DISTINCT materialization, no self-join — linear at any scale,
    skew bounded by the busiest user.
    """
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn(
            "is_first",
            (F.row_number().over(w_first) == 1).cast("int"),
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.sum("is_first").over(w_run).cast("bigint").alias("distinct_types_so_far"),
        )
    )


SQL_WINDOW_RUNNING_DISTINCT = """
    WITH flagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM events)
    SELECT event_id, user_id, ts, event_type,
           CAST(SUM(is_first) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS distinct_types_so_far
    FROM flagged
"""


ROLL_FRAME = 24  # rolling regression window (rows)


def q_window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope: per user, the trend of ``value`` over its last
    24 events — model fitting as a window function (drift detection per
    entity, the streaming-adjacent cousin of agg_linreg).

    The five co-moment sums are windowed aggregates over ONE shared
    (user, ts, tiebreak) frame spec — one exchange + one sort feeds all
    five Window aggregates; x is an exact integer hour index, y a
    DECIMAL(18,6) quantization, so every frame sum is order-free and the
    closing slope expression is one IEEE tree. Zero-variance frames
    (all events inside one hour) yield NULL on both engines (Spark /0 →
    NULL; oracle NULLIF). Skew bounded by the busiest user, work linear
    with an O(frame) state per row.
    """
    ev = load(spark, sf_dir, "events")
    x = F.expr(
        "timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)"
    ).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,6)")
    staged = ev.select(
        "event_id", "user_id", "ts", x.alias("x"), y.alias("y")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_FRAME - 1), Window.currentRow)
    )
    agg = staged.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_window"),
        F.sum("x").over(w).cast("double").alias("sx"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("double").alias("sxx"),
    )
    n = F.col("n_window").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    # explicit CASE: ANSI mode (Spark 4 default) errors on /0, and the
    # 1-row frame at each user's timeline start always has zero variance
    slope = F.when(
        vx != 0.0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / vx
    )
    return agg.select(
        "event_id",
        "user_id",
        "ts",
        "n_window",
        F.round(slope, 6).alias("slope_per_hour"),
    )


SQL_WINDOW_ROLLING_SLOPE = f"""
    WITH staged AS (
        SELECT event_id, user_id, ts,
               CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
                    AS DECIMAL(18,0)) AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events),
    agg AS (
        SELECT event_id, user_id, ts,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
               CAST(SUM(x) OVER w AS DOUBLE) AS sx,
               CAST(SUM(y) OVER w AS DOUBLE) AS sy,
               CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
               CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx
        FROM staged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {ROLL_FRAME - 1} PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id, ts, n_window,
           ROUND((CAST(n_window AS DOUBLE) * sxy - sx * sy)
                 / NULLIF(CAST(n_window AS DOUBLE) * sxx - sx * sx, 0), 6)
               AS slope_per_hour
    FROM agg
"""


ROLL_MED_PRECEDING = 6  # frame: current row + 6 preceding = last 7 events


def rolling_median(df: DataFrame) -> DataFrame:
    """EXACT rolling (lower) median of each user's last ``ROLL_MED_PRECEDING``+1
    values — the robust smoother where a rolling mean chases outliers.

    No engine exposes median as a frame aggregate, so the frame is
    materialized as a bounded collect_list, sorted, and indexed at the
    lower-median position — O(f log f) per row for a CONSTANT frame
    length f, all JVM-side array kernels inside the one user-keyed
    window pass (single exchange + sort, shared shape with every
    per-user window here). Values are quantized to DECIMAL(18,6) before
    collection so both engines sort identical exact values; the output
    is that decimal cast to double — no arithmetic, no rounding needed.
    This frame-materialization trick is frame-bounded BY DESIGN: for
    unbounded running medians use agg_median_twopass's histogram
    selection instead.
    """
    val = F.col("value").cast("decimal(18,6)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLL_MED_PRECEDING, 0)
    )
    frame = F.array_sort(F.collect_list(val).over(w))
    med = F.element_at(
        frame, F.floor((F.size(frame) + F.lit(1)) / 2).cast("int")
    )
    return df.select(
        "user_id",
        "event_id",
        F.size(frame).alias("n_in_frame"),
        med.cast("double").alias("rolling_median"),
    )


def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-user rolling 7-event median over ``events``."""
    return rolling_median(load(spark, sf_dir, "events"))


SQL_WINDOW_ROLLING_MEDIAN = f"""
    WITH framed AS (
        SELECT user_id, event_id,
               LIST(CAST(value AS DECIMAL(18,6))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {ROLL_MED_PRECEDING} PRECEDING AND CURRENT ROW
               ) AS frame
        FROM events)
    SELECT user_id, event_id,
           CAST(LEN(frame) AS INTEGER) AS n_in_frame,
           CAST(LIST_SORT(frame)[CAST(FLOOR((LEN(frame) + 1) / 2) AS BIGINT)]
                AS DOUBLE) AS rolling_median
    FROM framed
"""


QUERIES = {
    "window_rolling_median": Query(
        q_window_rolling_median, SQL_WINDOW_ROLLING_MEDIAN
    ),
    "window_rank": Query(q_window_rank, SQL_WINDOW_RANK),
    "window_lag_lead": Query(q_window_lag_lead, SQL_WINDOW_LAG_LEAD),
    "window_running": Query(q_window_running, SQL_WINDOW_RUNNING, headline=True),
    "window_topn_per_group": Query(q_window_topn_per_group, SQL_WINDOW_TOPN),
    "window_distribution": Query(q_window_distribution, SQL_WINDOW_DISTRIBUTION),
    "window_range_frame": Query(q_window_range_frame, SQL_WINDOW_RANGE_FRAME),
    "topk_global": Query(q_topk_global, SQL_TOPK_GLOBAL),
    "window_running_distinct": Query(
        q_window_running_distinct, SQL_WINDOW_RUNNING_DISTINCT
    ),
    "window_rolling_slope": Query(
        q_window_rolling_slope, SQL_WINDOW_ROLLING_SLOPE
    ),
}
