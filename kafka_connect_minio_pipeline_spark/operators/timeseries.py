"""Event-stream time-series operators over ``events`` (SURVEY.md §2.4
extension surface): the batch analytics a clickstream/telemetry user of the
reference pipeline runs once events land in object storage.

Three operators, each DuckDB-oracle-checked:

- sessionization: gap-based session assignment (a new session starts when
  a user is idle longer than the gap) plus per-session stats — the batch
  twin of the streaming session window (``stream_session``);
- gap-fill / resample: regularize each user's event stream onto an hourly
  grid and forward-fill the last observed value — the standard time-series
  densification step before joins against regular series;
- funnel: staged conversion analysis (signup → click → purchase, each
  step strictly after the previous one) — the classic event-sequence query.

All three are pure DataFrame plans: window functions + joins, no Python
boundary, whole-stage codegen end to end. Scale notes per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec9
from ..registry import Query
from ..tables import load

# ---------------------------------------------------------------------------
# 1. gap-based sessionization
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def _micros(c: Column) -> Column:
    """Epoch micros of an NTZ timestamp (session tz is pinned to UTC, so
    the NTZ→instant reinterpretation is engine-portable; DuckDB twin is
    ``epoch_us(ts)``)."""
    return F.unix_micros(c.cast("timestamp"))


def sessionize(df: DataFrame) -> DataFrame:
    """Assign gap-based sessions and aggregate per-session stats.

    A session is a maximal run of a user's events where consecutive gaps
    are <= ``SESSION_GAP_MIN`` minutes — computed as a running sum of new-session
    flags (lag + cumulative sum share one partition/order, so Catalyst
    plans ONE exchange + one sort for both window passes). The per-session
    rollup is the second and last shuffle. No state machine, no Python:
    this is the distributed form of sessionization, and each user's
    timeline sorts independently so skew is bounded by the busiest user
    (at 100 TB, salt the rollup only if single-user timelines outgrow a
    partition — they don't for human-scale activity).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (F.col("ts") - prev_ts > F.expr(f"interval {SESSION_GAP_MIN} minutes"))
    ).cast("int")
    # two selects: a window function can't nest inside another window's
    # aggregate. Same partition/order spec → Catalyst stacks both Window
    # operators behind ONE exchange + sort.
    flagged = df.select("user_id", "ts", "event_id", is_new.alias("new_sess"))
    seq = flagged.withColumn(
        "session_seq",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    return seq.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        (
            (_micros(F.max("ts")) - _micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("duration_s"),
    )


def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 30-minute-gap sessions over ``events``."""
    return sessionize(load(spark, sf_dir, "events"))


SQL_SESSIONIZE = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    assigned AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
        FROM flagged)
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_s
    FROM assigned
    GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# 2. hourly gap-fill / resample with forward fill
# ---------------------------------------------------------------------------


def gapfill_hourly(df: DataFrame) -> DataFrame:
    """Resample each user's stream onto an hourly grid, carrying the last
    observed value forward across empty buckets.

    Three pieces, all relational: (1) per-(user, hour) last observation
    (row_number window — one shuffle); (2) each user's dense hour grid
    via ``sequence(min_hour, max_hour, 1 hour)`` + explode — the grid is
    GENERATED, never stored, so a sparse 100 TB stream densifies without
    a cross join against a calendar table; (3) left join + a forward-fill
    window (``last(value, ignorenulls=True)`` over rows-unbounded-
    preceding). Buckets-per-user is bounded by the time range, so the
    explode fans out proportionally to wall-clock coverage, not event
    count — the right shape when events are heavily skewed per user.
    """
    bucket = F.date_trunc("hour", F.col("ts"))
    wobs = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    obs = (
        df.select("user_id", bucket.alias("bucket"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(wobs))
        .filter(F.col("rn") == 1)
        .select("user_id", "bucket", F.col("value").alias("obs_value"))
    )
    grid = (
        df.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("bucket"),
        )
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(obs, ["user_id", "bucket"], "left").select(
        "user_id",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        F.last("obs_value", ignorenulls=True).over(wff).alias("value_ffill"),
        F.col("obs_value").isNotNull().alias("observed"),
    )


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: hourly forward-filled grid over ``events``."""
    return gapfill_hourly(load(spark, sf_dir, "events"))


SQL_GAPFILL = """
    WITH obs AS (
        SELECT user_id, bucket, value AS obs_value FROM (
            SELECT user_id, date_trunc('hour', ts) AS bucket, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events GROUP BY user_id),
    grid AS (
        SELECT user_id,
               UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds)
    SELECT g.user_id, g.bucket,
           LAST_VALUE(o.obs_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
               ROWS UNBOUNDED PRECEDING) AS value_ffill,
           o.obs_value IS NOT NULL AS observed
    FROM grid g
    LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
"""


# ---------------------------------------------------------------------------
# 3. staged conversion funnel
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("signup", "click", "purchase")


def funnel(df: DataFrame) -> DataFrame:
    """Per-user staged funnel: the earliest time each step completed,
    where step k counts only at-or-after step k-1's completion time.

    One aggregation per step, each keyed on ``user_id`` — Catalyst
    plans every stage join co-partitioned on the same key, so after the
    first exchange the later stages reuse the partitioning (and the
    per-step relations only shrink). At 100 TB this is k passes over an
    ever-smaller survivor set, not a per-user sort of the full history.
    """
    base = df.select("user_id", "event_type", "ts")
    users = base.select("user_id").distinct()
    out = users
    prev_col: str | None = None
    for step in FUNNEL_STEPS:
        step_ts = f"ts_{step}"
        cand = base.filter(F.col("event_type") == step)
        if prev_col is not None:
            cand = cand.join(
                out.filter(F.col(prev_col).isNotNull()).select("user_id", prev_col),
                "user_id",
            ).filter(F.col("ts") >= F.col(prev_col))
        reached = cand.groupBy("user_id").agg(F.min("ts").alias(step_ts))
        out = out.join(reached, "user_id", "left")
        prev_col = step_ts
    stage = F.lit(0)
    for i, step in enumerate(FUNNEL_STEPS):
        stage = F.when(F.col(f"ts_{step}").isNotNull(), i + 1).otherwise(stage)
    return out.select(
        "user_id", *[f"ts_{s}" for s in FUNNEL_STEPS], stage.cast("int").alias("stage")
    )


def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: signup → click → purchase funnel over ``events``."""
    return funnel(load(spark, sf_dir, "events"))


SQL_FUNNEL = """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    s1 AS (
        SELECT user_id, MIN(ts) AS ts_signup FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS ts_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.ts_signup
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS ts_purchase
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.ts_click
        GROUP BY e.user_id)
    SELECT u.user_id, s1.ts_signup, s2.ts_click, s3.ts_purchase,
           CAST(CASE WHEN s3.ts_purchase IS NOT NULL THEN 3
                     WHEN s2.ts_click IS NOT NULL THEN 2
                     WHEN s1.ts_signup IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage
    FROM users u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
"""


# ---------------------------------------------------------------------------
# 4. per-user z-score anomaly detection
# ---------------------------------------------------------------------------

Z_THRESHOLD = 2.5


def zscore_outliers(df: DataFrame) -> DataFrame:
    """Flag events whose value is a per-user z-score outlier.

    Per-key moments come from exact decimal sums (the ``agg_stats``
    recipe: engine-native STDDEV accumulates in engine-specific order
    and can never hash-match; SUM(x), SUM(x²) over per-row
    decimal(18,6)-quantized values is order-free and exact — quantizing
    through DOUBLE, which both engines round identically). The join
    back to events is co-partitioned on the aggregation key (broadcast
    at test scale via AQE; co-located shuffle join at 100 TB — both
    correct, chosen at runtime), then the z expression is one
    IEEE-identical double tree so even ROUND agrees bit-for-bit.
    """
    v6 = F.col("value").cast("double").cast("decimal(18,6)")
    stats = df.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(v6).alias("s"),
        F.sum(v6 * v6).alias("sq"),
    )
    s_d, sq_d, n = F.col("s").cast("double"), F.col("sq").cast("double"), F.col("n")
    mean = s_d / n
    var = (sq_d - s_d * s_d / n) / (n - F.lit(1))
    # var > 0 guard: a CONSTANT-valued series has zero variance — its
    # z-score is 0/0, an ANSI DIVIDE_BY_ZERO crash unguarded (found by
    # the degenerate-events net) and definitionally has no outliers;
    # NULL z drops at the threshold filter on both engines
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var))
    return (
        df.select("event_id", "user_id", "value")
        .join(stats.filter(F.col("n") > 1), "user_id")
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) >= Z_THRESHOLD)
    )


def q_ts_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-user value outliers over ``events``."""
    return zscore_outliers(load(spark, sf_dir, "events"))


SQL_TS_ZSCORE = f"""
    WITH stats AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS s,
               SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))
                   * CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS sq
        FROM events GROUP BY user_id),
    scored AS (
        SELECT e.event_id, e.user_id, e.value,
               CASE WHEN (CAST(sq AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                         / (n - 1) > 0 THEN
                   ROUND((e.value - CAST(s AS DOUBLE) / n)
                         / SQRT((CAST(sq AS DOUBLE)
                                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                                / (n - 1)), 6) END AS zscore
        FROM events e JOIN stats USING (user_id)
        WHERE n > 1)
    SELECT * FROM scored WHERE ABS(zscore) >= {Z_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# 5. SCD2 dimension build from a change stream
# ---------------------------------------------------------------------------


def scd2(df: DataFrame) -> DataFrame:
    """Build a type-2 slowly-changing dimension from an event stream:
    per key, the validity intervals of each attribute value, consecutive
    duplicates collapsed (CDC compaction), ``valid_to`` open on the
    current version.

    ONE shuffle total: the change-detection lag, the ``valid_to`` lead,
    and the version row_number all share the same (key, ts, tiebreak)
    partition/order spec, and the duplicate-collapse filter between them
    preserves both partitioning and sort order — Catalyst plans a single
    exchange + sort feeding all three Window operators. Per-key state is
    the key's change history, so 100 TB of events with human-scale keys
    partitions evenly; no join, no second pass over the raw stream.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        df.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_attr", F.lag("event_type").over(w))
        .filter(
            F.col("prev_attr").isNull() | (F.col("prev_attr") != F.col("event_type"))
        )
    )
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_ts_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: SCD2 history of each user's event_type."""
    return scd2(load(spark, sf_dir, "events"))


SQL_SCD2 = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_attr
        FROM events),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_attr IS NULL OR prev_attr <> event_type)
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


EWMA_ALPHA = 0.3
EWMA_LOOKBACK = 32  # frame length; (1-α)^32 ≈ 1e-5 — the dropped tail


def ewma(events: DataFrame) -> DataFrame:
    """Truncated exponentially-weighted moving average of ``value`` per
    user (the streaming-metrics smoother: anomaly baselines, rate
    trends).

    True EWMA is a sequential recurrence — hostile to distributed
    execution. The standard scale trick: truncate to the last
    ``EWMA_LOOKBACK`` observations, where the dropped tail's weight,
    (1-α)^32 ≈ 1e-5, is below observable noise. That turns the
    recurrence into a bounded window frame: collect the frame into an
    array and fold it left-to-right (α·x + (1-α)·acc, seeded with the
    oldest element). ONE shuffle on user_id; frame state is O(32)
    per row; the fold is a JVM higher-order function evaluated in a
    deterministic order, so results are bit-identical to the oracle's
    ``list_reduce`` with the same expression shape — no rounding needed.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_LOOKBACK - 1), 0)
    )
    # materialize the frame array ONCE as a named column: inlining the
    # window expression into both fold arguments would evaluate the
    # collect_list twice per row (measured ~5s → ~1.5s at sf0.1)
    staged = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.collect_list(F.col("value").cast("double")).over(w).alias("frame"),
    )
    smoothed = F.aggregate(
        F.slice(F.col("frame"), 2, EWMA_LOOKBACK - 1),
        F.element_at(F.col("frame"), 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * x + F.lit(1.0 - EWMA_ALPHA) * acc,
    )
    return staged.select(
        "event_id", "user_id", "ts", "value", smoothed.alias("ewma")
    )


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: per-user EWMA over events."""
    return ewma(load(spark, sf_dir, "events"))


SQL_TS_EWMA = f"""
    SELECT event_id, user_id, ts, value,
           list_reduce(
               list(CAST(value AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {EWMA_LOOKBACK - 1} PRECEDING AND CURRENT ROW),
               (acc, x) -> {EWMA_ALPHA} * x + {1.0 - EWMA_ALPHA} * acc) AS ewma
    FROM events
"""


def ohlc(events: DataFrame) -> DataFrame:
    """Hourly OHLC downsampling bars per event_type — the classic
    time-series compaction (metrics rollup, market bars, sensor
    decimation).

    open/close are argmin/argmax over (ts, event_id) expressed as MIN/
    MAX of a struct whose leading fields are the ordering key: unlike a
    row_number window (shuffle + sort + filter), struct extrema are
    PARTIALLY AGGREGABLE — the map side collapses each partition to one
    struct per bar before the shuffle, so the exchange carries one row
    per (bar × partition) no matter how many raw events. That is the
    plan that survives 100 TB of events. The oracle states the same
    semantics as a row_number window, proving the two formulations agree.
    """
    key = F.struct("ts", "event_id", "value")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bar_ts"), F.col("event_type")
        )
        .agg(
            F.min(key).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("value").alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("bar_ts").cast("timestamp_ntz").alias("bar_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: hourly OHLC bars over events."""
    return ohlc(load(spark, sf_dir, "events"))


SQL_TS_OHLC = """
    WITH ranked AS (
        SELECT DATE_TRUNC('hour', ts) AS bar_ts, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY DATE_TRUNC('hour', ts), event_type
                   ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (
                   PARTITION BY DATE_TRUNC('hour', ts), event_type
                   ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events)
    SELECT bar_ts, event_type,
           MIN(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MIN(CASE WHEN rn_close = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked
    GROUP BY bar_ts, event_type
"""


def islands(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active hours per
    user (uptime stretches, activity streaks, sensor-coverage spans).

    The classic formulation: distinct activity hours, then
    ``hour_index − row_number()`` is constant within a consecutive run —
    a pure window subtraction, no self-join, no iteration. Two narrow
    shuffles (distinct on (user, hour) with partial agg; the per-user
    window and final groupBy share the user_id partitioning). Hour
    indexes are integer timestamp-diffs from a fixed epoch — exact in
    both engines."""
    hour_idx = F.expr(
        "timestampdiff(HOUR, TIMESTAMP'1970-01-01 00:00:00', active_hour)"
    )
    hours = events.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("active_hour")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("active_hour")
    runs = hours.select(
        "user_id",
        "active_hour",
        (hour_idx - F.row_number().over(w)).alias("island_key"),
    )
    return (
        runs.groupBy("user_id", "island_key")
        .agg(
            F.min("active_hour").cast("timestamp_ntz").alias("island_start"),
            F.max("active_hour").cast("timestamp_ntz").alias("island_end"),
            F.count("*").cast("int").alias("n_hours"),
        )
        .drop("island_key")
    )


def q_ts_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: consecutive-hour activity islands per user."""
    return islands(load(spark, sf_dir, "events"))


SQL_TS_ISLANDS = """
    WITH hours AS (
        SELECT DISTINCT user_id, DATE_TRUNC('hour', ts) AS active_hour
        FROM events),
    runs AS (
        SELECT user_id, active_hour,
               DATE_DIFF('hour', TIMESTAMP '1970-01-01 00:00:00', active_hour)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY active_hour)
                   AS island_key
        FROM hours)
    SELECT user_id,
           MIN(active_hour) AS island_start,
           MAX(active_hour) AS island_end,
           CAST(COUNT(*) AS INTEGER) AS n_hours
    FROM runs
    GROUP BY user_id, island_key
"""


PEAK_HOUR_MIN_EVENTS = 20  # corpus-wide events/hour to call an hour "peak"


def overlap_join(sessions: DataFrame, peaks: DataFrame) -> DataFrame:
    """Interval-overlap join via HOUR BUCKETIZATION — the scale pattern
    for joining two interval relations (sessions × peak-load windows,
    ad-impression × campaign flight, sensor-uptime × maintenance window).

    The naive formulation is a nested-loop on ``s.start ≤ p.end AND
    s.end ≥ p.start`` — quadratic, and only survivable when one side
    broadcasts. Bucketizing turns it into an EQUI-join: explode each
    interval to the hour buckets it touches (sequence + explode — an
    interval touches (len/bucket)+1 buckets), join on the bucket, dedup
    the (session, peak) pairs that share several buckets, and keep the
    exact overlap predicate as a residual filter. Shuffle volume is
    O(total interval-hours), never |sessions|×|peaks|; bucket width
    trades replication for candidate precision exactly like every other
    banding operator in this engine. The oracle runs the naive overlap
    join, proving the bucketization lossless.
    """
    s_b = sessions.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("session_start")),
                F.date_trunc("hour", F.col("session_end")),
                F.expr("interval 1 hour"),
            )
        ),
    )
    p_b = peaks.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.col("peak_start"), F.col("peak_end"), F.expr("interval 1 hour")
            )
        ),
    )
    return (
        s_b.join(p_b, "bucket")
        .filter(
            (F.col("session_start") <= F.col("peak_end"))
            & (F.col("session_end") >= F.col("peak_start"))
        )
        .select(
            "user_id", "session_seq", "session_start", "session_end",
            "peak_start", "peak_end",
        )
        .distinct()
    )


def q_ts_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: user sessions overlapping corpus-wide peak-load
    hours (maximal runs of hours with ≥ PEAK_HOUR_MIN_EVENTS events,
    built with the same gaps-and-islands trick as ``ts_islands``)."""
    ev = load(spark, sf_dir, "events")
    hours = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= PEAK_HOUR_MIN_EVENTS)
    )
    hour_idx = F.expr("timestampdiff(HOUR, TIMESTAMP'1970-01-01 00:00:00', h)")
    w = Window.orderBy("h")
    peaks = (
        hours.select("h", (hour_idx - F.row_number().over(w)).alias("k"))
        .groupBy("k")
        .agg(
            F.min("h").cast("timestamp_ntz").alias("peak_start"),
            F.max("h").cast("timestamp_ntz").alias("peak_end"),
        )
        .drop("k")
    )
    sessions = sessionize(ev).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    return overlap_join(sessions, peaks)


SQL_TS_OVERLAP = f"""
    WITH sessions AS (
        SELECT user_id, session_seq, session_start, session_end
        FROM ({{sessionize}})),
    hours AS (
        SELECT DATE_TRUNC('hour', ts) AS h, COUNT(*) AS n FROM events
        GROUP BY 1 HAVING COUNT(*) >= {PEAK_HOUR_MIN_EVENTS}),
    peaks AS (
        SELECT MIN(h) AS peak_start, MAX(h) AS peak_end
        FROM (SELECT h,
                     DATE_DIFF('hour', TIMESTAMP '1970-01-01 00:00:00', h)
                     - ROW_NUMBER() OVER (ORDER BY h) AS k
              FROM hours)
        GROUP BY k)
    SELECT user_id, session_seq, session_start, session_end,
           peak_start, peak_end
    FROM sessions JOIN peaks
      ON session_start <= peak_end AND session_end >= peak_start
"""


MAD_K = 3.0


def mad_outliers(ev: DataFrame) -> DataFrame:
    """Robust anomaly stats per series: median, MAD (median absolute
    deviation), and the count of points beyond ``MAD_K·MAD`` — the
    outlier detector that, unlike :func:`zscore_outliers`, is not itself
    dragged by the outliers it hunts (every extreme point contaminates a
    mean/stddev; medians shrug it off).

    Two grouped EXACT percentiles (median, then median of |x − med|)
    with the deviation relation reused between them, small aggregates
    broadcast back — never a re-shuffle of the fact table. Exact
    percentile is a per-group sort: fine while group count × group size
    fits the executor (series-keyed data), and the spec form for the
    oracle; at 100 TB swap ``percentile`` for ``approx_percentile``
    (t-digest, mergeable, one pass) and keep this as the correctness
    reference — same contract as ``agg_approx_distinct`` vs exact.
    """
    ev = ev.select("event_type", F.col("value").cast("double").alias("value"))
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > F.lit(MAD_K) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


def q_ts_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: median/MAD outlier stats per event type."""
    return mad_outliers(load(spark, sf_dir, "events"))


SQL_TS_MAD = f"""
    WITH base AS (
        SELECT event_type, CAST(value AS DOUBLE) AS value FROM events),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM base GROUP BY event_type),
    dev AS (
        SELECT b.event_type, b.value, m.med
        FROM base b JOIN med m USING (event_type)),
    mad AS (
        SELECT event_type, quantile_cont(ABS(value - med), 0.5) AS mad
        FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(d.med, 6) AS med,
           ROUND(a.mad, 6) AS mad,
           CAST(SUM(CASE WHEN ABS(d.value - d.med) > {MAD_K} * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type, d.med, a.mad
"""


def seasonal_profile(ev: DataFrame) -> DataFrame:
    """Hour-of-day seasonal decomposition per series: each (event_type,
    hour-of-day) cell's mean value and its seasonal index (cell mean /
    series mean) — the multiplicative-seasonality profile that turns a
    raw metric into "3 AM traffic runs at 0.4× baseline", the
    normalization step in front of any seasonal anomaly detector.

    One partial-aggregated shuffle collapses the corpus to ≤ 24 cells per
    series (n, decimal-exact sum — the ``agg_stats`` recipe, so the means
    hash-match cross-engine); the series totals come from a window over
    those cells rather than a second scan, and that window's partitions
    are 24 rows by construction — bounded at any corpus size. The final
    index is one IEEE-identical double tree.
    """
    v6 = F.col("value").cast("double").cast("decimal(18,6)")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count("*").alias("n"), F.sum(v6).alias("s"))
    w = Window.partitionBy("event_type")
    hourly = F.col("s").cast("double") / F.col("n")
    overall = (
        F.sum("s").over(w).cast("double") / F.sum("n").over(w).cast("double")
    )
    return cells.select(
        "event_type",
        "hod",
        "n",
        F.round(hourly, 6).alias("hourly_avg"),
        F.round(hourly / overall, 6).alias("seasonal_idx"),
    )


def q_ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: hour-of-day seasonal indices per event type."""
    return seasonal_profile(load(spark, sf_dir, "events"))


SQL_TS_SEASONAL = """
    WITH cells AS (
        SELECT event_type,
               CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS s
        FROM events GROUP BY 1, 2)
    SELECT event_type, hod, n,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS hourly_avg,
           ROUND((CAST(s AS DOUBLE) / n)
                 / (CAST(SUM(s) OVER (PARTITION BY event_type) AS DOUBLE)
                    / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)),
                 6) AS seasonal_idx
    FROM cells
"""


def retention_cohorts(ev: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, the
    fraction still active in each subsequent week — the growth-analytics
    staple (and, for a training pipeline, the "is this data source going
    stale" view of contributor activity).

    Shape: the corpus collapses to distinct (user, day) activity in one
    partial-aggregated pass; first-activity is a groupBy on user; the
    activity⋈first join is co-partitioned on user_id (AQE broadcasts it
    at test scale); the matrix itself is cohorts × weeks — tiny. Every
    aggregate is a count, every ratio one rounded division: exact
    cross-engine.
    """
    act = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    offs = (
        act.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / F.lit(7))
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        offs.groupBy("cohort_day", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            "cohort_day",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def q_ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: weekly retention by first-activity-day cohort."""
    return retention_cohorts(load(spark, sf_dir, "events"))


SQL_TS_RETENTION = """
    WITH act AS (
        SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events),
    first AS (
        SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id),
    sizes AS (
        SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY cohort_day),
    offs AS (
        SELECT DISTINCT a.user_id, f.cohort_day,
               CAST(FLOOR(DATE_DIFF('day', f.cohort_day, a.day) / 7.0) AS BIGINT)
                   AS week_offset
        FROM act a JOIN first f USING (user_id)),
    m AS (
        SELECT cohort_day, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
        FROM offs GROUP BY 1, 2)
    SELECT cohort_day, week_offset, n_active, cohort_size,
           ROUND(n_active * 1.0 / cohort_size, 6) AS retention
    FROM m JOIN sizes USING (cohort_day)
"""


CROSS_CORR_A = "click"
CROSS_CORR_B = "purchase"
CROSS_CORR_MAX_LAG_H = 6


def cross_correlation(
    ev: DataFrame,
    type_a: str = CROSS_CORR_A,
    type_b: str = CROSS_CORR_B,
) -> DataFrame:
    """Lagged cross-correlation between two event streams ("do clicks
    lead purchases, and by how many hours?") — the leading-indicator
    primitive for ops/forecast dashboards.

    Scale shape: the raw stream first collapses to an hourly count series
    (one partial-aggregated groupBy — the only data-sized shuffle), and
    every subsequent step runs on the BOUNDED hour grid: cardinality is
    wall-clock coverage (720 hours/month), independent of event volume.
    The collapsed series is localCheckpoint-ed so its four downstream
    references (bounds, grid join, both sides of the lag self-join) reuse
    the ≤ grid-sized materialization instead of re-scanning the raw
    events — the plan test pins events to ONE scan. Zero-count hours
    matter for correlation, so the gapless grid is generated with
    ``sequence`` from the series' min/max hour (scalar agg broadcast,
    never a stored calendar), counts land on it via left join + coalesce
    0. The lagged alignment is a projected self-join of the tiny grid
    (grid × lags rows), and the per-lag correlation closes over exact
    integer co-moment sums — bit-identical across engines.
    """
    hourly = (
        ev.filter(F.col("event_type").isin(type_a, type_b))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
        .groupBy("hour")
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, F.col("cnt")).otherwise(0))
            .alias("a_cnt"),
            F.sum(F.when(F.col("event_type") == type_b, F.col("cnt")).otherwise(0))
            .alias("b_cnt"),
        )
        .localCheckpoint()  # bounded: one row per covered hour
    )
    bounds = hourly.agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour")
    )
    series = grid.join(hourly, "hour", "left").select(
        "hour",
        F.coalesce("a_cnt", F.lit(0)).alias("a_cnt"),
        F.coalesce("b_cnt", F.lit(0)).alias("b_cnt"),
    )
    lags = ev.sparkSession.range(0, CROSS_CORR_MAX_LAG_H + 1).select(
        F.col("id").cast("bigint").alias("lag_hours")
    )
    x = series.select("hour", "a_cnt")
    y = series.select(F.col("hour").alias("y_hour"), "b_cnt")
    aligned = (
        x.crossJoin(F.broadcast(lags))
        .join(
            y,
            F.col("y_hour")
            == F.expr("timestampadd(HOUR, lag_hours, hour)").cast("timestamp_ntz"),
        )
    )
    base = aligned.groupBy("lag_hours").agg(
        F.count("*").alias("n_hours"),
        F.sum("a_cnt").alias("sx"),
        F.sum("b_cnt").alias("sy"),
        F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("sxy"),
        F.sum(F.col("a_cnt") * F.col("a_cnt")).alias("sxx"),
        F.sum(F.col("b_cnt") * F.col("b_cnt")).alias("syy"),
    )
    n = F.col("n_hours").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    denom = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    # constant series → zero denominator: ANSI /0 errors, so CASE-guard
    corr = F.when(denom != 0.0, cov / denom)
    return base.select(
        "lag_hours",
        "n_hours",
        F.round(corr, 6).alias("xcorr"),
    ).orderBy("lag_hours")


def q_ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: hourly click→purchase cross-correlation, lags 0-6 h."""
    return cross_correlation(load(spark, sf_dir, "events"))


def _cross_corr_sql(a: str, b: str, max_lag: int) -> str:
    """Oracle generator shared by cross-correlation and ACF (a == b)."""
    return f"""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour,
               SUM(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) AS a_cnt,
               SUM(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) AS b_cnt
        FROM events
        WHERE event_type IN ('{a}', '{b}')
        GROUP BY 1),
    bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly),
    grid AS (
        SELECT UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds),
    series AS (
        SELECT g.hour,
               COALESCE(h.a_cnt, 0) AS a_cnt,
               COALESCE(h.b_cnt, 0) AS b_cnt
        FROM grid g LEFT JOIN hourly h ON g.hour = h.hour),
    lags AS (SELECT CAST(r.range AS BIGINT) AS lag_hours
             FROM range(0, {max_lag + 1}) r),
    aligned AS (
        SELECT l.lag_hours, x.a_cnt, y.b_cnt
        FROM series x
        CROSS JOIN lags l
        JOIN series y ON y.hour = x.hour + l.lag_hours * INTERVAL 1 HOUR),
    base AS (
        SELECT lag_hours,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               SUM(a_cnt) AS sx, SUM(b_cnt) AS sy,
               SUM(a_cnt * b_cnt) AS sxy,
               SUM(a_cnt * a_cnt) AS sxx,
               SUM(b_cnt * b_cnt) AS syy
        FROM aligned GROUP BY lag_hours)
    SELECT lag_hours, n_hours,
           ROUND((CAST(n_hours AS DOUBLE) * sxy - sx * sy)
                 / NULLIF(SQRT(CAST(n_hours AS DOUBLE) * sxx - sx * sx)
                          * SQRT(CAST(n_hours AS DOUBLE) * syy - sy * sy), 0), 6)
               AS xcorr
    FROM base
    ORDER BY lag_hours
"""


SQL_TS_CROSS_CORR = _cross_corr_sql(
    CROSS_CORR_A, CROSS_CORR_B, CROSS_CORR_MAX_LAG_H
)


def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly click series (lags 0-6 h)
    — seasonality/persistence detection; the self-pair of
    :func:`cross_correlation`, so the whole scale story (one data-sized
    shuffle, bounded checkpointed grid) is inherited. Lag 0 is the
    built-in sanity row: ACF(0) = 1 exactly."""
    return cross_correlation(
        load(spark, sf_dir, "events"), CROSS_CORR_A, CROSS_CORR_A
    )


SQL_TS_ACF = _cross_corr_sql(CROSS_CORR_A, CROSS_CORR_A, CROSS_CORR_MAX_LAG_H)



def q_ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the reporting staple
    (volume trend with % change), on a GAPLESS weekly grid so a silent
    week reads as -100%, not a skipped row.

    Weekly counts come from one partial-aggregated groupBy (the only
    data-sized shuffle); the gapless week grid is generated per type
    from the observed bounds (sequence + explode — bounded by wall-clock
    coverage × types); lag + % change run on the tiny grid. The % change
    is an exact integer ratio closed in one rounded double; week-1 rows
    and zero-baseline weeks yield NULL (CASE-guarded — ANSI /0 errors).
    """
    ev = load(spark, sf_dir, "events")
    weekly = (
        ev.groupBy(
            F.date_trunc("week", F.col("ts")).alias("week"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # bounded: weeks x types rows; 4 consumers
    )
    bounds = weekly.groupBy("event_type").agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(w0, w1, interval 1 week)")).alias("week"),
    )
    dense = grid.join(weekly, ["event_type", "week"], "left").select(
        "event_type", "week", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return dense.select(
        "event_type",
        F.col("week").cast("timestamp_ntz").alias("week"),
        "n",
        prev.alias("prev_n"),
        F.when(
            prev > 0,
            F.round((F.col("n") - prev) * 100.0 / prev, 6),
        ).alias("wow_pct"),
    )


SQL_TS_WOW = """
    WITH weekly AS (
        SELECT DATE_TRUNC('week', ts) AS week, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT event_type, MIN(week) AS w0, MAX(week) AS w1
        FROM weekly GROUP BY event_type),
    grid AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(w0, w1, INTERVAL 1 WEEK)) AS week
        FROM bounds),
    dense AS (
        SELECT g.event_type, g.week, COALESCE(w.n, 0) AS n
        FROM grid g LEFT JOIN weekly w
          ON g.event_type = w.event_type AND g.week = w.week)
    SELECT event_type, week, n,
           LAG(n) OVER w AS prev_n,
           CASE WHEN LAG(n) OVER w > 0
                THEN ROUND((n - LAG(n) OVER w) * 100.0 / LAG(n) OVER w, 6)
           END AS wow_pct
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY week)
"""


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


def markov_transitions(df: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    ordered pair of consecutive events in a user's timeline, the count
    and conditional probability P(next | current) — the classic user-
    journey model (what do people do right after an error?).

    One lead() window per user timeline (single exchange + sort, the
    same partitioning every per-user operator here shares) feeds a
    partial-aggregated groupBy whose output is BOUNDED at |types|² rows,
    so the row-normalizing window that closes the probabilities runs on
    a ~25-row relation — any partitioning works. At 100 TB the only
    data-sized cost is the one user-keyed shuffle; skew is bounded by
    the busiest single user, same argument as sessionize.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = df.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wrow).cast("double"), 6
        ).alias("prob"),
    )


def q_ts_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: event-type transition matrix over ``events``."""
    return markov_transitions(load(spark, sf_dir, "events"))


SQL_TS_MARKOV = """
    WITH pairs AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
    counts AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type)
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
               AS prob
    FROM counts
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on the hourly rate
# ---------------------------------------------------------------------------


def cusum_changepoint(ev: DataFrame) -> DataFrame:
    """Per event type, the single most likely level-shift hour in the
    hourly event-rate series, by the classic CUSUM statistic: the hour h
    maximizing |Σ_{i≤h}(x_i − x̄)| — where the cumulative deviation from
    the global mean peaks, the level shifted.

    Exactness is the whole trick: the deviation prefix sum is float-
    fragile (mean is a ratio), so the statistic is scaled by N —
    ``N·prefix_i − i·S`` with prefix/S/N all exact integers — and only
    the final reported CUSUM divides back down, one rounded double.
    Cross-engine bit-equal, same strategy as agg_linreg's co-moments.

    Scale shape: one data-sized partial-aggregated groupBy collapses
    events to (hour, type) counts; everything after runs on the BOUNDED
    hour grid (wall-clock coverage × |types| rows — gapless via
    generated sequence, since silent hours drag the mean down and are
    exactly what a changepoint detector must see). The windows partition
    by event_type over ≤ coverage-sized partitions; the argmax closes
    with the max-join + min-hour tiebreak pattern from mode_per_group
    (deterministic: hour is unique per type).
    """
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # bounded: hours × types; consumed by bounds + join
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("n")
    )
    word = Window.partitionBy("event_type").orderBy("hour")
    wall = Window.partitionBy("event_type")
    scored = dense.select(
        "event_type",
        "hour",
        (
            F.count("*").over(wall) * F.sum("n").over(word)
            - F.row_number().over(word).cast("bigint") * F.sum("n").over(wall)
        ).alias("scaled"),
        F.count("*").over(wall).alias("n_hours"),
    )
    peak = (
        scored.groupBy("event_type")
        .agg(F.max(F.abs(F.col("scaled"))).alias("peak"))
        .withColumnRenamed("event_type", "peak_type")
    )
    return (
        scored.join(
            peak,
            (F.col("event_type") == F.col("peak_type"))
            & (F.abs(F.col("scaled")) == F.col("peak")),
        )
        .groupBy("event_type", "n_hours")
        .agg(
            F.min("hour").cast("timestamp_ntz").alias("cp_hour"),
            F.min_by("scaled", "hour").alias("scaled_at_cp"),
        )
        .select(
            "event_type",
            "cp_hour",
            "n_hours",
            F.round(
                F.col("scaled_at_cp").cast("double")
                / F.col("n_hours").cast("double"),
                6,
            ).alias("cusum"),
        )
    )


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: CUSUM changepoint per event type."""
    return cusum_changepoint(load(spark, sf_dir, "events"))


SQL_TS_CHANGEPOINT = """
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        FROM hourly GROUP BY event_type),
    grid AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds),
    dense AS (
        SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
        FROM grid g LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.hour = h.hour),
    scored AS (
        SELECT event_type, hour,
               COUNT(*) OVER wall
                   * SUM(n) OVER (wo ROWS UNBOUNDED PRECEDING)
                 - ROW_NUMBER() OVER wo * SUM(n) OVER wall AS scaled,
               CAST(COUNT(*) OVER wall AS BIGINT) AS n_hours
        FROM dense
        WINDOW wo AS (PARTITION BY event_type ORDER BY hour),
               wall AS (PARTITION BY event_type)),
    peak AS (
        SELECT event_type, MAX(ABS(scaled)) AS peak
        FROM scored GROUP BY event_type)
    SELECT s.event_type,
           MIN(s.hour) AS cp_hour,
           s.n_hours,
           ROUND(CAST(MIN_BY(s.scaled, s.hour) AS DOUBLE)
                 / CAST(s.n_hours AS DOUBLE), 6) AS cusum
    FROM scored s JOIN peak p
      ON s.event_type = p.event_type AND ABS(s.scaled) = p.peak
    GROUP BY s.event_type, s.n_hours
"""


# ---------------------------------------------------------------------------
# linear interpolation on the hourly grid
# ---------------------------------------------------------------------------


def interpolate_hourly(df: DataFrame) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION instead of forward-fill: missing
    hours get the straight line between the surrounding observations —
    the densification a rate/metric series wants when step-functions
    (ffill) would bias downstream aggregates.

    Same skeleton as gapfill_hourly (per-bucket last observation,
    generated hour grid, left join); the fill is two frame-opposed
    IGNORE NULLS windows over ONE partition+order (Catalyst plans a
    single exchange + sort carrying both), giving each missing hour its
    bracketing (prev, next) observation and their integer hour indices.
    Observed values are quantized to DECIMAL(18,6) before windowing so
    both engines interpolate from identical endpoints; the interpolation
    itself closes in one shared-shape double expression and is emitted
    UNROUNDED: midpoints of 6-decimal endpoints systematically land on
    exact 7th-decimal ties, where Spark's round() (HALF_UP on the
    shortest decimal repr) and DuckDB's (binary-domain) disagree by one
    ulp — the raw double, by contrast, is the same IEEE tree in both
    engines and bit-identical.
    Leading edge (no prev) stays NULL; trailing edge (no next) degrades
    to forward-fill. Buckets-per-user is wall-clock-bounded, same scale
    argument as gapfill.
    """
    bucket = F.date_trunc("hour", F.col("ts"))
    wobs = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    obs = (
        df.select("user_id", bucket.alias("bucket"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(wobs))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "bucket",
            F.col("value").cast("decimal(18,6)").alias("obs_value"),
        )
    )
    grid = (
        df.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("bucket"),
        )
    )
    joined = grid.join(obs, ["user_id", "bucket"], "left")
    hidx = F.expr(
        "timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', bucket)"
    ).cast("bigint")
    obs_h = F.when(F.col("obs_value").isNotNull(), hidx)
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    staged = joined.select(
        "user_id",
        "bucket",
        hidx.alias("h"),
        F.col("obs_value").isNotNull().alias("observed"),
        F.last("obs_value", ignorenulls=True).over(wprev).cast("double").alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wprev).alias("ph"),
        F.first("obs_value", ignorenulls=True).over(wnext).cast("double").alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wnext).alias("nh"),
    )
    interp = (
        F.when(F.col("observed"), F.col("pv"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("h") - F.col("ph")).cast("double")
                / (F.col("nh") - F.col("ph")).cast("double")
            ),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
    )
    return staged.select(
        "user_id",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "observed",
        interp.alias("value_interp"),
    )


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: linearly interpolated hourly grid over ``events``."""
    return interpolate_hourly(load(spark, sf_dir, "events"))


SQL_TS_INTERPOLATE = """
    WITH obs AS (
        SELECT user_id, bucket, CAST(value AS DECIMAL(18,6)) AS obs_value
        FROM (
            SELECT user_id, date_trunc('hour', ts) AS bucket, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events GROUP BY user_id),
    grid AS (
        SELECT user_id,
               UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds),
    staged AS (
        SELECT g.user_id, g.bucket,
               DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', g.bucket) AS h,
               o.obs_value IS NOT NULL AS observed,
               CAST(LAST_VALUE(o.obs_value IGNORE NULLS) OVER wp AS DOUBLE) AS pv,
               LAST_VALUE(CASE WHEN o.obs_value IS NOT NULL
                               THEN DATE_DIFF('hour',
                                              TIMESTAMP '2024-01-01 00:00:00',
                                              g.bucket) END IGNORE NULLS)
                   OVER wp AS ph,
               CAST(FIRST_VALUE(o.obs_value IGNORE NULLS) OVER wn AS DOUBLE) AS nv,
               FIRST_VALUE(CASE WHEN o.obs_value IS NOT NULL
                                THEN DATE_DIFF('hour',
                                               TIMESTAMP '2024-01-01 00:00:00',
                                               g.bucket) END IGNORE NULLS)
                   OVER wn AS nh
        FROM grid g
        LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
        WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY g.user_id ORDER BY g.bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, bucket, observed,
           CASE WHEN observed THEN pv
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                THEN pv + (nv - pv)
                     * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
                WHEN pv IS NOT NULL THEN pv
           END AS value_interp
    FROM staged
"""


# ---------------------------------------------------------------------------
# peak concurrency (sweep-line over session intervals)
# ---------------------------------------------------------------------------


def peak_concurrency(df: DataFrame) -> DataFrame:
    """Peak number of simultaneously-open sessions (and when it first
    happens) — the capacity-planning question every serving/connection
    system asks of its event log.

    The classic sweep-line (+1 at start, −1 at end, running sum, max) is
    a GLOBAL ordered prefix sum — a single-task window at scale. Here it
    runs DECOMPOSED, the same pattern as corpus_token_budget: the running
    sum is computed within hour buckets only (windows partitioned by
    bucket), and each bucket adds a broadcast cumulative offset from the
    BOUNDED bucket-totals relation (wall-clock hours, not data-sized).
    Integer arithmetic makes the decomposition exactly equal to the
    one-window spec the oracle runs. Tie order is total — (t, +1 before
    −1, user, session) — so touching sessions count as concurrent and
    the running sequence is deterministic; the answer closes with a
    broadcast max-join + earliest-t tiebreak. At 100 TB the only
    data-sized costs are sessionize itself and one bucket-keyed window;
    a pathological single hot hour sub-buckets to minutes with the same
    algebra.
    """
    sess = sessionize(df).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    deltas = sess.select(
        F.col("session_start").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_seq",
    ).unionByName(
        sess.select(
            F.col("session_end").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_seq",
        )
    ).withColumn("bucket", F.date_trunc("hour", F.col("t")))
    win = (
        Window.partitionBy("bucket")
        .orderBy("t", F.col("delta").desc(), "user_id", "session_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = deltas.select(
        "t", "bucket", F.sum("delta").over(win).alias("within")
    )
    totals = deltas.groupBy("bucket").agg(F.sum("delta").alias("btotal"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("btotal").over(wb), F.lit(0)).alias("offset")
    )
    scored = within.join(F.broadcast(offsets), "bucket").select(
        "t", (F.col("offset") + F.col("within")).alias("conc")
    )
    mx = scored.agg(F.max("conc").alias("max_concurrent"))
    n_sess = sess.agg(F.count("*").alias("n_sessions"))
    return (
        scored.join(
            F.broadcast(mx), F.col("conc") == F.col("max_concurrent")
        )
        .groupBy("max_concurrent")
        .agg(F.min("t").alias("at_ts"))
        .crossJoin(F.broadcast(n_sess))
        .select(
            F.col("max_concurrent").cast("int").alias("max_concurrent"),
            "at_ts",
            "n_sessions",
        )
    )


def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: peak concurrent 30-min-gap sessions."""
    return peak_concurrency(load(spark, sf_dir, "events"))


SQL_TS_CONCURRENCY = """
    WITH sess AS ({sessionize}),
    deltas AS (
        SELECT session_start AS t, 1 AS delta, user_id, session_seq FROM sess
        UNION ALL
        SELECT session_end AS t, -1 AS delta, user_id, session_seq FROM sess),
    scored AS (
        SELECT t,
               SUM(delta) OVER (
                   ORDER BY t, delta DESC, user_id, session_seq
                   ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas),
    m AS (SELECT MAX(conc) AS max_concurrent FROM scored)
    SELECT CAST(m.max_concurrent AS INTEGER) AS max_concurrent,
           MIN(s.t) AS at_ts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions
    FROM scored s, m
    WHERE s.conc = m.max_concurrent
    GROUP BY m.max_concurrent
"""


# ---------------------------------------------------------------------------
# seasonally-adjusted anomaly detection
# ---------------------------------------------------------------------------

SEASONAL_Z = 3.0


def seasonal_adjusted_outliers(df: DataFrame) -> DataFrame:
    """Anomalies AFTER removing the hour-of-day pattern: an event is
    flagged when its value deviates from its series' seasonal mean for
    that hour by ≥ ``SEASONAL_Z`` residual standard deviations. A plain
    z-score (ts_zscore) flags every rush-hour peak; this flags what is
    unusual GIVEN the hour — the difference between "traffic is high at
    9am" (normal) and "traffic is high at 3am" (incident).

    Decomposition keeps everything exact: per-(series, hour-of-day)
    cells carry exact decimal Σx, Σx² (one partial-agg shuffle, ≤24
    cells/series); the residual variance per series is Σ_cells(Σx² −
    (Σx)²/n) — each cell's term is one double tree PRE-ROUNDED to 9
    decimals and summed as exact DECIMAL(28,9) over the ≤24 cells
    (order-free, the entropy rule). Cells and series stats broadcast
    back onto the events (small dimension joins), and the z closes in
    one shared rounded tree. Linear, two tiny relations, no window.
    """
    hod = F.hour(F.col("ts")).alias("hod")
    v6 = F.col("value").cast("double").cast("decimal(18,6)")
    cells = df.groupBy("event_type", hod).agg(
        F.count("*").alias("cn"),
        F.sum(v6).alias("cs"),
        F.sum(v6 * v6).alias("csq"),
    )
    cell_term = dec9(
        F.col("csq").cast("double")
        - F.col("cs").cast("double") * F.col("cs").cast("double")
        / F.col("cn").cast("double")
    )
    series = cells.groupBy("event_type").agg(
        F.sum("cn").alias("n"),
        F.sum(cell_term).alias("ss_resid"),
    )
    sigma = F.sqrt(
        F.col("ss_resid").cast("double") / (F.col("n").cast("double") - F.lit(1.0))
    )
    seasonal_mean = F.col("cs").cast("double") / F.col("cn").cast("double")
    z = (F.col("value") - seasonal_mean) / F.col("sigma")
    return (
        df.select("event_id", "event_type", hod, "value")
        .join(F.broadcast(cells), ["event_type", "hod"])
        .join(
            F.broadcast(
                series.filter(F.col("n") > 1).select(
                    "event_type", sigma.alias("sigma")
                )
            ),
            "event_type",
        )
        .filter(F.col("sigma") > 0)
        .select(
            "event_id",
            "event_type",
            "hod",
            "value",
            F.round(seasonal_mean, 6).alias("seasonal_mean"),
            F.round(z, 6).alias("z_adj"),
        )
        .filter(F.abs(F.col("z_adj")) >= SEASONAL_Z)
    )


def q_ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: seasonally-adjusted outliers over ``events``."""
    return seasonal_adjusted_outliers(load(spark, sf_dir, "events"))


SQL_TS_ANOMALY_SEASONAL = f"""
    WITH cells AS (
        SELECT event_type, HOUR(ts) AS hod,
               CAST(COUNT(*) AS BIGINT) AS cn,
               SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS cs,
               SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))
                   * CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS csq
        FROM events GROUP BY event_type, HOUR(ts)),
    series AS (
        SELECT event_type,
               CAST(SUM(cn) AS BIGINT) AS n,
               SUM(CAST(ROUND(CAST(csq AS DOUBLE)
                              - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                                / CAST(cn AS DOUBLE), 9)
                        AS DECIMAL(28,9))) AS ss_resid
        FROM cells GROUP BY event_type),
    sigmas AS (
        SELECT event_type,
               SQRT(CAST(ss_resid AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
                   AS sigma
        FROM series WHERE n > 1)
    SELECT e.event_id, e.event_type, HOUR(e.ts) AS hod, e.value,
           ROUND(CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE), 6)
               AS seasonal_mean,
           ROUND((e.value - CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE))
                 / s.sigma, 6) AS z_adj
    FROM events e
    JOIN cells c ON e.event_type = c.event_type AND HOUR(e.ts) = c.hod
    JOIN sigmas s ON e.event_type = s.event_type
    WHERE s.sigma > 0
      AND ABS(ROUND((e.value - CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE))
                    / s.sigma, 6)) >= {SEASONAL_Z}
"""


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

SNAIVE_SEASON_H = 168  # weekly seasonality on the hourly grid


def snaive_backtest(ev: DataFrame) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE forecaster (ŷ(t) = y(t − 1 week))
    on the hourly event rate — the baseline every forecasting system
    must beat, and the honest way to report it: walk the real history,
    predict each hour from the same hour last week, and aggregate the
    errors per series (MAE and sMAPE).

    Events collapse once to the gapless (series, hour) grid (the one
    data-sized shuffle; zero-count hours are real observations, so the
    generated calendar matters); the forecast is a lag(season) window
    per series on the bounded grid and the error rollup is exact: MAE
    from integer sums, sMAPE terms 2|ŷ−y|/(ŷ+y) pre-rounded to 9
    decimals and summed as exact decimals (order-free), zero-demand
    hours where ŷ+y=0 contribute 0 by convention (CASE-guarded — ANSI
    /0). At 100 TB everything after the collapse is wall-clock-sized.
    """
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # bounded: hours × types
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    scored = dense.select(
        "event_type",
        "hour",
        "y",
        F.lag("y", SNAIVE_SEASON_H).over(w).alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    abs_err = F.abs(F.col("yhat") - F.col("y"))
    smape_term = dec9(
        F.when(
            (F.col("yhat") + F.col("y")) > 0,
            F.lit(2.0)
            * abs_err.cast("double")
            / (F.col("yhat") + F.col("y")).cast("double"),
        ).otherwise(F.lit(0.0))
    )
    base = scored.groupBy("event_type").agg(
        F.count("*").alias("n_backtest"),
        F.sum(abs_err).alias("sum_abs_err"),
        F.sum(smape_term).alias("sum_smape"),
    )
    return base.select(
        "event_type",
        "n_backtest",
        F.round(
            F.col("sum_abs_err").cast("double") / F.col("n_backtest").cast("double"),
            6,
        ).alias("mae"),
        F.round(
            F.col("sum_smape").cast("double") / F.col("n_backtest").cast("double"),
            6,
        ).alias("smape"),
    )


def q_ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: weekly seasonal-naive backtest per event type."""
    return snaive_backtest(load(spark, sf_dir, "events"))


SQL_TS_FORECAST_SNAIVE = f"""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        FROM hourly GROUP BY event_type),
    grid AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds),
    dense AS (
        SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS y
        FROM grid g LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.hour = h.hour),
    scored AS (
        SELECT event_type, y,
               LAG(y, {SNAIVE_SEASON_H}) OVER (
                   PARTITION BY event_type ORDER BY hour) AS yhat
        FROM dense)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_backtest,
           ROUND(CAST(SUM(ABS(yhat - y)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mae,
           ROUND(CAST(SUM(CAST(ROUND(
                     CASE WHEN (yhat + y) > 0
                          THEN 2.0 * CAST(ABS(yhat - y) AS DOUBLE)
                               / CAST(yhat + y AS DOUBLE)
                          ELSE 0.0 END, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS smape
    FROM scored
    WHERE yhat IS NOT NULL
    GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# session survival curve
# ---------------------------------------------------------------------------


def session_survival(df: DataFrame) -> DataFrame:
    """Session survival curve S(m) = fraction of sessions lasting ≥ m
    whole minutes — the engagement-duration distribution read the way
    product analytics wants it (how many sessions survive past minute
    5?), exactly.

    Sessions come from the shared gap sessionizer; durations bucket to
    whole minutes, so the curve lives on a BOUNDED relation (max
    session length in minutes, not session count) and the survivor
    counts close as a suffix sum over that tiny relation — the
    unpartitioned window is bounded-cardinality by construction, the
    cross_corr/token_budget rule. Survival fractions are exact integer
    ratios rounded once.
    """
    sess = sessionize(df)
    minutes = (F.col("duration_s") / F.lit(60)).cast("bigint").alias("minute")
    per_min = sess.select(minutes).groupBy("minute").agg(
        F.count("*").alias("n_sessions")
    )
    w = (
        Window.orderBy("minute")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    total = per_min.agg(F.sum("n_sessions").alias("n_total"))
    return (
        per_min.withColumn("n_surviving", F.sum("n_sessions").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "minute",
            "n_sessions",
            "n_surviving",
            F.round(
                F.col("n_surviving").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("survival"),
        )
    )


def q_ts_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: survival curve of 30-min-gap session durations."""
    return session_survival(load(spark, sf_dir, "events"))


SQL_TS_SURVIVAL = """
    WITH sess AS ({sessionize}),
    per_min AS (
        SELECT CAST(duration_s // 60 AS BIGINT) AS minute,
               CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM sess GROUP BY 1),
    total AS (SELECT SUM(n_sessions) AS n_total FROM per_min)
    SELECT minute, n_sessions,
           CAST(SUM(n_sessions) OVER (
               ORDER BY minute
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_surviving,
           ROUND(CAST(SUM(n_sessions) OVER (
                     ORDER BY minute
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS survival
    FROM per_min CROSS JOIN total
"""


def q_ts_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap per series — the 2-D
    calendar profile behind every traffic dashboard (ts_seasonal's
    hour-only profile can't separate Monday 9am from Sunday 9am). One
    partial-aggregated groupBy to ≤ 7·24 cells per series; the
    within-series share closes on that bounded relation. ISO day
    numbering pinned explicitly (engines disagree on week start).
    """
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.dayofweek(F.col("ts")).alias("dow_raw"),
        F.hour(F.col("ts")).alias("hod"),
    ).agg(F.count("*").alias("n"))
    # Spark dayofweek: 1=Sunday..7=Saturday → ISO 1=Monday..7=Sunday
    iso_dow = F.when(F.col("dow_raw") == 1, F.lit(7)).otherwise(
        F.col("dow_raw") - 1
    )
    w = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        iso_dow.cast("int").alias("dow"),
        "hod",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("share"),
    )


SQL_TS_DOW_HOUR = """
    WITH cells AS (
        SELECT event_type,
               CAST(ISODOW(ts) AS INTEGER) AS dow,
               HOUR(ts) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3)
    SELECT event_type, dow, hod, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
               AS share
    FROM cells
"""


def q_ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the hourly rate deltas per series —
    "is this metric wandering randomly or trending/oscillating?": too
    FEW runs of same-signed changes means momentum, too MANY means
    mean-reverting oscillation; |z| ≈ 2 flags either.

    Events collapse once to the gapless hourly grid; the delta signs,
    the zero-drop, and the run-boundary lags are per-series windows on
    the BOUNDED grid; n⁺/n⁻/R close as exact integers into the classic
    normal approximation (one shared double tree, CASE-guarded
    degenerate σ). Everything after the first shuffle is
    wall-clock-sized.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    signed = dense.select(
        "event_type",
        "hour",
        F.signum(F.col("y") - F.lag("y").over(w)).cast("int").alias("s"),
    ).filter(F.col("s").isNotNull() & (F.col("s") != 0))
    runs = signed.select(
        "event_type",
        "s",
        (F.col("s") != F.lag("s").over(w)).cast("int").alias("boundary"),
    )
    base = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("n_neg"),
        (F.sum("boundary") + F.lit(1)).alias("n_runs"),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    nn = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    return base.select(
        "event_type",
        "n_pos",
        "n_neg",
        "n_runs",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0) & (var > 0), F.round(z, 6))
        .alias("z_runs"),
    )


SQL_TS_RUNS_TEST = """
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        FROM hourly GROUP BY event_type),
    grid AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds),
    dense AS (
        SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS y
        FROM grid g LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.hour = h.hour),
    signed AS (
        SELECT event_type, hour, s FROM (
            SELECT event_type, hour,
                   CAST(SIGN(y - LAG(y) OVER (
                       PARTITION BY event_type ORDER BY hour)) AS INTEGER) AS s
            FROM dense)
        WHERE s IS NOT NULL AND s <> 0),
    runs AS (
        SELECT event_type, s,
               CASE WHEN s <> LAG(s) OVER (
                        PARTITION BY event_type ORDER BY hour)
                    THEN 1 ELSE 0 END AS boundary
        FROM signed),
    base AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
               CAST(SUM(boundary) + 1 AS BIGINT) AS n_runs
        FROM runs GROUP BY event_type)
    SELECT event_type, n_pos, n_neg, n_runs,
           CASE WHEN n_pos > 0 AND n_neg > 0
                     AND 2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                         * (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                            - CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
                         / ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                            * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                            * (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE)
                               - 1.0)) > 0
                THEN ROUND((CAST(n_runs AS DOUBLE)
                            - (2.0 * CAST(n_pos AS DOUBLE)
                               * CAST(n_neg AS DOUBLE)
                               / (CAST(n_pos AS DOUBLE)
                                  + CAST(n_neg AS DOUBLE)) + 1.0))
                           / SQRT(2.0 * CAST(n_pos AS DOUBLE)
                                  * CAST(n_neg AS DOUBLE)
                                  * (2.0 * CAST(n_pos AS DOUBLE)
                                     * CAST(n_neg AS DOUBLE)
                                     - CAST(n_pos AS DOUBLE)
                                     - CAST(n_neg AS DOUBLE))
                                  / ((CAST(n_pos AS DOUBLE)
                                      + CAST(n_neg AS DOUBLE))
                                     * (CAST(n_pos AS DOUBLE)
                                        + CAST(n_neg AS DOUBLE))
                                     * (CAST(n_pos AS DOUBLE)
                                        + CAST(n_neg AS DOUBLE) - 1.0))), 6)
           END AS z_runs
    FROM base
"""


def q_ts_silence_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTAGE detection: maximal runs of ZERO-event hours per series,
    with start/end/duration — the complement of the activity islands
    (ts_islands finds when a series was alive; ops wants when it went
    DARK, which only exists on the gapless generated grid where a
    silent hour is a row, not an absence).

    Hourly collapse once (the data-sized shuffle), then the islands
    trick on the zero hours: hour-index − row_number within the silent
    subset is constant per maximal silent run — one per-series window,
    one bounded rollup. Everything after the collapse is
    wall-clock-sized.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).alias("y")
    )
    silent = dense.filter(F.col("y") == 0)
    hidx = F.expr(
        "timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', hour)"
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy("hour")
    runs = silent.select(
        "event_type",
        "hour",
        (hidx - F.row_number().over(w)).alias("run_key"),
    )
    return (
        runs.groupBy("event_type", "run_key")
        .agg(
            F.min("hour").cast("timestamp_ntz").alias("dark_from"),
            F.max("hour").cast("timestamp_ntz").alias("dark_to"),
            F.count("*").alias("n_dark_hours"),
        )
        .drop("run_key")
    )


SQL_TS_SILENCE = """
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        FROM hourly GROUP BY event_type),
    grid AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds),
    dense AS (
        SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS y
        FROM grid g LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.hour = h.hour),
    runs AS (
        SELECT event_type, hour,
               DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', hour)
                 - ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY hour) AS run_key
        FROM dense WHERE y = 0)
    SELECT event_type,
           MIN(hour) AS dark_from,
           MAX(hour) AS dark_to,
           CAST(COUNT(*) AS BIGINT) AS n_dark_hours
    FROM runs
    GROUP BY event_type, run_key
"""


def q_ts_uptime_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series availability rollup — the SLO one-liner ops actually
    reads: covered hours, dark hours, availability %, number of
    outages, and the longest outage, all from the silence-window
    machinery in one more bounded aggregation. Availability is an
    exact integer ratio rounded once; a series with no dark hours
    reports zero outages and availability 1.0 (explicitly, via the
    left join against the grid totals — silence rows alone would drop
    it).
    """
    dark = q_ts_silence_windows(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    totals = (
        ev.groupBy("event_type")
        .agg(
            (
                F.expr(
                    "timestampdiff(HOUR, date_trunc('hour', min(ts)),"
                    " date_trunc('hour', max(ts)))"
                )
                + F.lit(1)
            ).alias("n_hours")
        )
    )
    outages = dark.groupBy("event_type").agg(
        F.count("*").alias("n_outages"),
        F.sum("n_dark_hours").alias("dark_hours"),
        F.max("n_dark_hours").alias("longest_outage_h"),
    )
    return (
        totals.join(outages, "event_type", "left")
        .select(
            "event_type",
            "n_hours",
            F.coalesce("n_outages", F.lit(0)).alias("n_outages"),
            F.coalesce("dark_hours", F.lit(0)).alias("dark_hours"),
            F.coalesce("longest_outage_h", F.lit(0)).alias("longest_outage_h"),
            F.round(
                (F.col("n_hours") - F.coalesce("dark_hours", F.lit(0))).cast(
                    "double"
                )
                / F.col("n_hours").cast("double"),
                6,
            ).alias("availability"),
        )
    )


SQL_TS_UPTIME = f"""
    WITH dark AS ({{silence}}),
    totals AS (
        SELECT event_type,
               DATE_DIFF('hour', DATE_TRUNC('hour', MIN(ts)),
                         DATE_TRUNC('hour', MAX(ts))) + 1 AS n_hours
        FROM events GROUP BY event_type),
    outages AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_outages,
               CAST(SUM(n_dark_hours) AS BIGINT) AS dark_hours,
               CAST(MAX(n_dark_hours) AS BIGINT) AS longest_outage_h
        FROM dark GROUP BY event_type)
    SELECT t.event_type,
           CAST(t.n_hours AS BIGINT) AS n_hours,
           COALESCE(o.n_outages, 0) AS n_outages,
           COALESCE(o.dark_hours, 0) AS dark_hours,
           COALESCE(o.longest_outage_h, 0) AS longest_outage_h,
           ROUND(CAST(t.n_hours - COALESCE(o.dark_hours, 0) AS DOUBLE)
                 / CAST(t.n_hours AS DOUBLE), 6) AS availability
    FROM totals t LEFT JOIN outages o USING (event_type)
"""


QUERIES = {
    "ts_retention": Query(q_ts_retention, SQL_TS_RETENTION),
    "ts_silence_windows": Query(q_ts_silence_windows, SQL_TS_SILENCE),
    "ts_uptime_report": Query(
        q_ts_uptime_report, SQL_TS_UPTIME.format(silence=SQL_TS_SILENCE)
    ),
    "ts_runs_test": Query(q_ts_runs_test, SQL_TS_RUNS_TEST),
    "ts_dow_hour_heatmap": Query(q_ts_dow_hour_heatmap, SQL_TS_DOW_HOUR),
    "ts_survival": Query(
        q_ts_survival, SQL_TS_SURVIVAL.format(sessionize=SQL_SESSIONIZE)
    ),
    "ts_forecast_snaive": Query(q_ts_forecast_snaive, SQL_TS_FORECAST_SNAIVE),
    "ts_anomaly_seasonal": Query(q_ts_anomaly_seasonal, SQL_TS_ANOMALY_SEASONAL),
    "ts_seasonal": Query(q_ts_seasonal, SQL_TS_SEASONAL),
    "ts_mad": Query(q_ts_mad, SQL_TS_MAD),
    "ts_ohlc": Query(q_ts_ohlc, SQL_TS_OHLC),
    "ts_islands": Query(q_ts_islands, SQL_TS_ISLANDS),
    "ts_overlap_join": Query(
        q_ts_overlap_join, SQL_TS_OVERLAP.format(sessionize=SQL_SESSIONIZE)
    ),
    "ts_ewma": Query(q_ts_ewma, SQL_TS_EWMA),
    "ts_sessionize": Query(q_ts_sessionize, SQL_SESSIONIZE),
    "ts_gapfill": Query(q_ts_gapfill, SQL_GAPFILL),
    "ts_funnel": Query(q_ts_funnel, SQL_FUNNEL),
    "ts_zscore": Query(q_ts_zscore, SQL_TS_ZSCORE),
    "ts_scd2": Query(q_ts_scd2, SQL_SCD2),
    "ts_cross_corr": Query(q_ts_cross_corr, SQL_TS_CROSS_CORR),
    "ts_acf": Query(q_ts_acf, SQL_TS_ACF),
    "ts_week_over_week": Query(q_ts_week_over_week, SQL_TS_WOW),
    "ts_markov": Query(q_ts_markov, SQL_TS_MARKOV),
    "ts_changepoint": Query(q_ts_changepoint, SQL_TS_CHANGEPOINT),
    "ts_interpolate": Query(q_ts_interpolate, SQL_TS_INTERPOLATE),
    "ts_concurrency": Query(
        q_ts_concurrency, SQL_TS_CONCURRENCY.format(sessionize=SQL_SESSIONIZE)
    ),
}
