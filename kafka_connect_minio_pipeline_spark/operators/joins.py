"""Join operators (SURVEY.md §2.4 joins row).

The reference implements exactly one join — the verifier's full-outer
reconciliation (covered in pipeline/profile.py). Everything here is the
extension surface: equi-joins in all flavors, broadcast for dimension
tables, a non-equi band join, and an as-of join built scale-first.

Scale notes baked into each operator:
- dimension tables (nation, bands) are broadcast explicitly → zero shuffle
  of the fact side for those joins;
- fact⨝fact equi-joins rely on Catalyst sort-merge + AQE (skew split);
- the as-of join deliberately avoids the quadratic join-then-filter plan:
  it's a union + single window pass, one shuffle on the partition key —
  the only formulation that survives 100 TB of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import SQL_SUM_REVENUE, dec2, revenue
from ..registry import Query
from ..scratch import scratch_dir_keyed
from ..tables import load


def q_join_inner_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⨝ nation(broadcast) ⨝ orders ⨝ lineitem → revenue by nation.

    Partial aggregation is pushed BELOW the join (Catalyst won't do this
    rewrite itself): lineitem collapses to one exact-decimal revenue row
    per orderkey before touching orders, so the big join moves |orders|
    rows instead of |lineitem| — at 100 TB that's the difference between
    shuffling the fact table and shuffling its 4×-smaller rollup. It also
    turns COUNT(DISTINCT o_orderkey) into a plain count (the expensive
    two-phase distinct expansion disappears). Decimal sum of per-order
    decimal sums is exact, so the oracle hash is unchanged. nation is
    tiny → explicit broadcast; AQE handles the rest.
    """
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount"))).alias("rev_ok")
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum("rev_ok").cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_JOIN_INNER = f"""
    SELECT n_name,
           {SQL_SUM_REVENUE} AS revenue,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


def q_join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving order-less customers (COUNT of nullable key)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count(F.col("o_orderkey")).alias("n_orders"))
    )


SQL_JOIN_LEFT = """
    SELECT c_custkey, c_mktsegment, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi: customers with ≥1 urgent open order.

    Semi-join ships only the key column of the probe side — at scale this
    beats inner-join+distinct by never materializing the match multiplicity.
    """
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    )
    return customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_JOIN_SEMI = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti: customers with no high-value (>300k) order.

    (Anti against *all* orders would be trivially empty in this data —
    every customer has orders — so the probe side is filtered to keep the
    operator's semantics observable.)
    """
    customer = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


_BANDS = [("small", 0, 10), ("medium", 10, 25), ("large", 25, 51)]


def q_join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: lineitem quantity classified into bands.

    The band table is a literal → broadcast nested-loop join, which is the
    right physical plan: the stream side is never shuffled, each task scans
    its lineitem split once against the 3-row broadcast.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band string, lo int, hi int")
    return (
        lineitem.join(
            F.broadcast(bands),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


SQL_JOIN_RANGE = """
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0, 10), ('medium', 10, 25), ('large', 25, 51))
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
"""


def q_join_role_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLE-PLAYING dimension join (the TPC-H Q7 shape): the same nation
    dimension participates twice under different roles — the customer's
    nation and the supplier's nation — giving trade volume by ordered
    (cust_nation, supp_nation) pair. The alias-disambiguation pattern
    every star schema needs for date/geo dims reused across roles.

    Plan: lineitem joins supplier (broadcast) and its order's customer;
    the nation dim broadcasts TWICE under distinct aliases — two
    independent BroadcastHashJoins over the same 25-row relation, zero
    fact-side shuffle for either role. Revenue sums are the cent-exact
    decimals; one partial-agg shuffle closes the pair matrix.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", revenue(
            F.col("l_extendedprice"), F.col("l_discount")
        ).alias("rev")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation_c = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    nation_s = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_JOIN_ROLE_DIMS = f"""
    SELECT nc.n_name AS cust_nation,
           ns.n_name AS supp_nation,
           {SQL_SUM_REVENUE} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    GROUP BY nc.n_name, ns.n_name
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the latest click by the same
    user at-or-before the purchase timestamp.

    Scale-first formulation: instead of purchase⨝click + ts filter (quadratic
    per user, then a re-aggregation), tag both event kinds, union, and take
    `last(click_ts, ignorenulls)` over a single (user_id, ts)-ordered window
    — one shuffle, linear state, the classic streaming-friendly as-of plan.
    Ties at identical ts sort 'click' before 'purchase' (event_type asc), so
    a same-instant click counts as "at or before" — matching the oracle's
    ASOF semantics (p.ts >= c.ts).
    """
    events = load(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


SQL_JOIN_ASOF = """
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of: each purchase pairs with the same-user click
    closest in time in EITHER direction (sensor-fusion alignment, where
    "latest before" is the wrong default when the next reading is
    closer). Completes the as-of family: backward (join_asof), bounded
    (join_asof_tolerance), nearest (here).

    Same single-shuffle plan as join_asof — one (user, ts)-ordered
    window pass carries BOTH directions (last ignorenulls over the
    preceding frame + first ignorenulls over the following frame share
    the exchange and sort), and the nearest pick is a projection. Ties
    at equal distance take the earlier click; a same-instant click
    sorts before its purchase, lands in the backward frame at distance
    0, and wins. Oracle: two DuckDB ASOF joins + the same CASE.
    """
    events = load(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    order = [F.col("ts"), F.col("event_type")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    staged = (
        tagged.withColumn("back_ts", F.last("click_ts", ignorenulls=True).over(wb))
        .withColumn("fwd_ts", F.first("click_ts", ignorenulls=True).over(wf))
        .filter(F.col("event_type") == "purchase")
    )
    db = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("back_ts").cast("timestamp")
    )
    df_ = F.unix_micros(F.col("fwd_ts").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    take_back = F.col("fwd_ts").isNull() | (
        F.col("back_ts").isNotNull() & (db <= df_)
    )
    nearest = F.when(take_back, F.col("back_ts")).otherwise(F.col("fwd_ts"))
    gap_us = F.when(take_back, db).otherwise(df_)
    return staged.select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_click_ts"),
        F.when(
            nearest.isNotNull(),
            F.when(take_back, F.lit("backward")).otherwise(F.lit("forward")),
        ).alias("direction"),
        (gap_us / F.lit(1_000_000)).cast("long").alias("gap_s"),
    )


SQL_JOIN_ASOF_NEAREST = """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (
        SELECT p.event_id, p.user_id, p.ts, c.ts AS back_ts
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (
        SELECT p.event_id, c.ts AS fwd_ts
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts <= c.ts),
    staged AS (
        SELECT b.event_id, b.user_id, b.ts, b.back_ts, f.fwd_ts,
               epoch_us(b.ts) - epoch_us(b.back_ts) AS db,
               epoch_us(f.fwd_ts) - epoch_us(b.ts) AS df,
               (f.fwd_ts IS NULL
                OR (b.back_ts IS NOT NULL
                    AND epoch_us(b.ts) - epoch_us(b.back_ts)
                        <= epoch_us(f.fwd_ts) - epoch_us(b.ts))) AS take_back
        FROM b JOIN f USING (event_id))
    SELECT event_id, user_id, ts,
           CASE WHEN take_back THEN back_ts ELSE fwd_ts END
               AS nearest_click_ts,
           CASE WHEN (CASE WHEN take_back THEN back_ts ELSE fwd_ts END)
                     IS NOT NULL
                THEN CASE WHEN take_back THEN 'backward' ELSE 'forward' END
           END AS direction,
           CAST((CASE WHEN take_back THEN db ELSE df END) // 1000000
                AS BIGINT) AS gap_s
    FROM staged
"""


ASOF_TOLERANCE_MIN = 30


def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance: the latest same-user click at
    or before each purchase counts ONLY if it happened within 30
    minutes — the sensor-alignment/attribution-window variant (a stale
    match is as useless as none). Same single-shuffle union+window plan
    as ``join_asof``; the tolerance is a post-window projection, not a
    second join."""
    base = q_join_asof(spark, sf_dir)
    within = F.col("last_click_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_MIN} MINUTES"
    )
    return base.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("last_click_ts")).alias("last_click_ts"),
    )


SQL_JOIN_ASOF_TOLERANCE = f"""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts >= p.ts - INTERVAL {ASOF_TOLERANCE_MIN} MINUTES
                THEN c.ts END AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


N_SALT = 8


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact⨝dim equi-join via explicit key salting.

    A hot join key concentrates one reducer's input; AQE's skew-join split
    fixes that for batch, but AQE is disabled in stateful streaming and
    can't help a stream⨝stream join — explicit salting is the portable
    answer. The fact side gets a deterministic per-row salt (hash of the
    row's unique id mod N_SALT); the dim side is replicated N_SALT× with
    an explode, so each fact row still matches exactly its one dim row and
    the join output is bit-identical to the unsalted join (the oracle runs
    the plain join). A hot key's rows now spread over N_SALT reducers at
    the cost of a dim side N_SALT× larger — the right trade whenever
    |dim| ≪ |fact| but dim is too big (or the plan too streaming) to
    broadcast.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "fact_salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(N_SALT))
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(N_SALT)])).alias(
            "dim_salt"
        ),
    )
    return (
        ev.join(
            cust,
            (F.col("user_id") == F.col("c_custkey"))
            & (F.col("fact_salt") == F.col("dim_salt")),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


SQL_JOIN_SKEW = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
"""


N_BUCKETS = 8


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⨝fact join over BUCKETED tables: revenue by order priority.

    The recurring-join answer at 100 TB: both sides are written
    ``bucketBy(N, key).sortBy(key)`` once at ingest, so every subsequent
    join on that key is a sort-merge join with ZERO exchanges — the
    shuffle is paid once at write time, never per query (verified in
    tests/test_plans.py: the only exchange left in this plan is the final
    tiny group-by). Locally N_BUCKETS=8; a real deployment sizes buckets
    so each holds a few hundred MB and uses the same layout for every
    orderkey-keyed join. The oracle is the plain (shuffled) join — the
    bucketed layout must change the plan, never the result.
    """
    def write_bucketed(df: DataFrame, key: str, table: str) -> None:
        # external table at a per-session scratch location: a re-run in
        # the same session drops the catalog entry and overwrites the same
        # directory, never colliding with a stale managed-table directory
        # left by a previous session's metastore.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        df.write.mode("overwrite").option(
            "path",
            scratch_dir_keyed(
                f"{table}_", spark.sparkContext.applicationId, table
            ),
        ).bucketBy(N_BUCKETS, key).sortBy(key).saveAsTable(table)

    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey",
        "kcm_bucketed_orders",
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            revenue(F.col("l_extendedprice"), F.col("l_discount")).alias("rev"),
        ),
        "l_orderkey",
        "kcm_bucketed_lineitem",
    )
    j = (
        spark.table("kcm_bucketed_orders")
        .hint("merge")
        .join(
            spark.table("kcm_bucketed_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    return j.groupBy("o_orderpriority").agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_JOIN_BUCKETED = f"""
    SELECT o_orderpriority,
           {SQL_SUM_REVENUE} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
"""


def q_join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: attach to each purchase the user's
    SCD2 state (last non-purchase event type) AS OF the purchase time —
    the temporal star-join every warehouse needs once dimensions have
    history (price lists, account tiers, consent state).

    The naive plan is an inequality join ``valid_from <= ts < valid_to``
    — a per-key nested loop that explodes on hot keys. This operator
    instead interleaves dimension-change rows and fact rows in ONE
    union, sorts per key once, and carries the latest dimension state
    onto each fact with ``last(ignorenulls)`` — the same
    union-window formulation as the as-of join above, extended to a CDC
    dimension built in-plan by :func:`~..timeseries.scd2` (which shares
    the identical (user, ts) partition/order, so Catalyst reuses one
    exchange+sort spine end to end). The DuckDB oracle IS the naive
    interval join — proving the linear plan equals the quadratic spec,
    including the zero-length-interval edge when two changes share a
    timestamp (the higher version wins in both formulations).
    """
    from .timeseries import scd2

    ev = load(spark, sf_dir, "events")
    dim = scd2(ev.filter(F.col("event_type") != "purchase"))
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    d = dim.select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("kind"),
        F.col("event_type").alias("state"),
        F.col("version").alias("state_version"),
    )
    f = facts.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("int").alias("state_version"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("state_version").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.unionByName(f)
        .withColumn("cur_state", F.last("state", ignorenulls=True).over(w))
        .withColumn(
            "cur_version", F.last("state_version", ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("cur_state").alias("state"),
            F.col("cur_version").alias("state_version"),
        )
    )


SQL_JOIN_PIT_SCD2 = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_attr
        FROM events WHERE event_type <> 'purchase'),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_attr IS NULL OR prev_attr <> event_type),
    dim AS (
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER w AS valid_to,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS version
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    facts AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts,
           d.event_type AS state, d.version AS state_version
    FROM facts f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


CDC_KEY_SHIFT = 1400  # maps event user_ids onto the customer-key tail so
# the changelog exercises all three MERGE arms: keys ≤ max(c_custkey)
# update/delete existing customers, keys beyond it insert new rows


def cdc_merge(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """MERGE a CDC changelog into a snapshot — the standard upsert/delete
    apply step of any incremental pipeline: last change per key wins;
    a final delete removes the row; an upsert updates an existing row or
    inserts a missing one; untouched base rows pass through as kept.

    ``changelog`` needs columns (key, op ∈ {'U','D'}, val, ord) with
    ``ord`` a TOTAL order per key. The plan is the scale-canonical one:
    last-change-per-key is a max_by struct aggregation (partial-
    aggregated, skew-immune — no row_number sort), then ONE full-outer
    equi-join against the snapshot; both sides hash on the key, and at
    100 TB the changelog side is typically the small delta (broadcast if
    it fits). No window over the base table, no driver loop.
    """
    latest = changelog.groupBy("key").agg(
        F.max_by(F.struct(F.col("op"), F.col("val")), F.col("ord")).alias("c")
    ).select("key", F.col("c.op").alias("op"), F.col("c.val").alias("new_val"))
    # explicit presence marker: "no base row" must be detected by ROW
    # absence, never by the value being NULL — a snapshot legitimately
    # holding (k, NULL) is an UPDATE target, not an insert slot
    joined = base.withColumn("in_base", F.lit(True)).join(
        latest, "key", "full_outer"
    )
    action = (
        F.when(F.col("op").isNull(), F.lit("kept"))
        .when(F.col("op") == "D", F.lit("deleted"))
        .when(F.col("in_base").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
    )
    return (
        joined.select(
            "key",
            action.alias("action"),
            # cent-exact decimal either way; emitted as double (exact
            # IEEE nearest) because DuckDB's pandas fetch turns DECIMAL
            # into float64 — the sum_dec2 portability rule
            F.when(F.col("op") == "U", F.col("new_val"))
            .otherwise(F.col("val"))
            .cast("double")
            .alias("final_val"),
        )
        .filter(F.col("action") != "deleted")
    )


def q_join_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: apply an events-derived changelog to the
    customer snapshot. Each user's LAST event decides: 'error' → delete
    the customer; anything else → upsert ``value`` as the new balance.
    The key shift routes part of the changelog past the snapshot's max
    key so inserts happen too. Balances quantized to DECIMAL(18,2)
    (cent-exact) on both engines."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("val"),
    )
    ev = load(spark, sf_dir, "events")
    changelog = ev.select(
        (F.col("user_id") + F.lit(CDC_KEY_SHIFT)).alias("key"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("value").cast("decimal(18,2)").alias("val"),
        F.struct(F.col("ts"), F.col("event_id")).alias("ord"),
    )
    return cdc_merge(cust, changelog)


SQL_JOIN_CDC_MERGE = f"""
    WITH changelog AS (
        SELECT user_id + {CDC_KEY_SHIFT} AS key,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               CAST(value AS DECIMAL(18,2)) AS val,
               ts, event_id
        FROM events),
    latest AS (
        SELECT key, op, val AS new_val FROM (
            SELECT key, op, val,
                   ROW_NUMBER() OVER (
                       PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
            FROM changelog) WHERE rn = 1),
    base AS (
        SELECT c_custkey AS key, CAST(c_acctbal AS DECIMAL(18,2)) AS val
        FROM customer),
    merged AS (
        SELECT COALESCE(b.key, l.key) AS key,
               CASE WHEN l.op IS NULL THEN 'kept'
                    WHEN l.op = 'D' THEN 'deleted'
                    WHEN b.key IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action,
               CAST(CASE WHEN l.op = 'U' THEN l.new_val ELSE b.val END
                    AS DOUBLE) AS final_val
        FROM base b FULL OUTER JOIN latest l ON b.key = l.key)
    SELECT key, action, final_val FROM merged WHERE action <> 'deleted'
"""


MKT_PART_TYPE = "STANDARD"
MKT_REGION = "EUROPE"
MKT_NATION = "NATION_3"


def q_join_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: per order year, the share
    of {MKT_REGION}-customer revenue on {MKT_PART_TYPE} parts supplied
    by {MKT_NATION} suppliers — the classic 7-table decision-support
    join (lineitem ⨝ part ⨝ supplier ⨝ nation ⨝ orders ⨝ customer ⨝
    nation ⨝ region), the widest join tree in the registry and the
    plan Catalyst's join ordering + AQE must get right.

    Scale shape: the part filter prunes the fact FIRST (1/6 of types)
    through a broadcast; the supplier→nation attribution is a second
    broadcast onto the pruned fact; then the same partial-agg-below-join
    trick as `join_inner_revenue` collapses lineitem to ONE row per
    order (vol_all, vol_nat exact decimals) BEFORE the orders join, so
    the fact⨝fact equi-join moves the rollup, not the lineitems. The
    customer-side chain broadcasts nation and the filtered region; the
    customer join itself stays a plain equi-join (AQE broadcasts it
    locally, shuffles it at 100 TB). Numerator/denominator are exact
    decimal sums cast to double once, ratio rounded once — hash-exact."""
    part_f = load(spark, sf_dir, "part").filter(
        F.col("p_type") == MKT_PART_TYPE
    )
    nation = load(spark, sf_dir, "nation")
    supn = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = revenue(F.col("l_extendedprice"), F.col("l_discount"))
    per_order = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part_f.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_orderkey")
        .agg(
            F.sum(rev).alias("vol_all"),
            F.sum(F.when(F.col("supp_nation") == MKT_NATION, rev)).alias(
                "vol_nat"
            ),
        )
    )
    region_f = load(spark, sf_dir, "region").filter(
        F.col("r_name") == MKT_REGION
    )
    joined = (
        per_order.join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region_f),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    # totality: an all-zero-revenue year (impossible with TPC-H-shaped
    # prices, but nothing in the contract forbids it) yields share NULL
    # on both engines instead of ANSI DIVIDE_BY_ZERO on Spark
    vol_all = F.sum("vol_all").cast("double")
    return joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.when(
            vol_all > 0,
            F.round(
                F.coalesce(F.sum("vol_nat").cast("double"), F.lit(0.0))
                / vol_all,
                6,
            ),
        ).alias("mkt_share"),
        vol_all.alias("total_volume"),
    )


_SQL_REV_TERM = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)

SQL_JOIN_MARKET_SHARE = f"""
    WITH supn AS (
        SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN nation ON s_nationkey = n_nationkey),
    li AS (
        SELECT l_orderkey,
               SUM({_SQL_REV_TERM}) AS vol_all,
               SUM(CASE WHEN supp_nation = '{MKT_NATION}'
                        THEN {_SQL_REV_TERM} END) AS vol_nat
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = '{MKT_PART_TYPE}'
        JOIN supn ON l_suppkey = s_suppkey
        GROUP BY l_orderkey)
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           CASE WHEN CAST(SUM(vol_all) AS DOUBLE) > 0
                THEN ROUND(COALESCE(CAST(SUM(vol_nat) AS DOUBLE), 0)
                           / CAST(SUM(vol_all) AS DOUBLE), 6)
           END AS mkt_share,
           CAST(SUM(vol_all) AS DOUBLE) AS total_volume
    FROM li
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey AND r_name = '{MKT_REGION}'
    GROUP BY 1
"""


MIN_PRICE_MAX_SIZE = 5  # part-size prune, TPC-H Q2's p_size predicate analog


def q_join_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style decorrelated MIN: for every small part
    (p_size ≤ {MIN_PRICE_MAX_SIZE}), the supplier(s) offering its
    minimum unit price — the classic correlated
    ``= (SELECT MIN(..) WHERE partkey = outer.partkey)`` subquery,
    decorrelated into a single window pass. (The reference dataset has
    no partsupp table, so lineitem plays the part-supplier price list:
    unit price = l_extendedprice / l_quantity.)

    Scale shape: the part filter prunes the fact FIRST through a
    broadcast (1/10 of sizes), then ONE shuffle on l_partkey computes
    the per-part window MIN and filters to the achieving rows in the
    same pass — no second scan of lineitem, no groupBy-and-join-back
    self-join (the naive decorrelation that scans the fact twice).
    DISTINCT collapses multiple min-price lineitems of one
    (part, supplier); the supplier attribute join is a broadcast.
    Exactness: unit price is the same IEEE double division on both
    engines; MIN over doubles is order-free; round once at the end.
    Totality: only positive-quantity lines are price quotes — a zero
    quantity would hit ANSI DIVIDE_BY_ZERO (found by the r10 relational
    fuzz net; TPC-H quantities are ≥1 so driver results are unchanged),
    and a negative one is a return, not an offer. The guard is pushed
    into the scan on both engines."""
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    small = load(spark, sf_dir, "part").filter(
        F.col("p_size") <= MIN_PRICE_MAX_SIZE
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .join(
            F.broadcast(small.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    w = Window.partitionBy("l_partkey")
    best = (
        li.withColumn("unit", unit)
        .withColumn("min_unit", F.min("unit").over(w))
        .filter(F.col("unit") == F.col("min_unit"))
        .select(
            "l_partkey",
            "l_suppkey",
            F.round("min_unit", 6).alias("min_price"),
        )
        .distinct()
    )
    return best.join(
        F.broadcast(load(spark, sf_dir, "supplier")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_suppkey",
        "s_name",
        "s_acctbal",
        "min_price",
    )


SQL_JOIN_MIN_PRICE_SUPPLIER = f"""
    WITH priced AS (
        SELECT l_partkey, l_suppkey,
               l_extendedprice / l_quantity AS unit,
               MIN(l_extendedprice / l_quantity)
                   OVER (PARTITION BY l_partkey) AS min_unit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
                 AND p_size <= {MIN_PRICE_MAX_SIZE}
        WHERE l_quantity > 0),
    best AS (
        SELECT DISTINCT l_partkey, l_suppkey,
               ROUND(min_unit, 6) AS min_price
        FROM priced WHERE unit = min_unit)
    SELECT l_partkey AS p_partkey, s_suppkey, s_name, s_acctbal, min_price
    FROM best JOIN supplier ON l_suppkey = s_suppkey
"""


def q_join_untapped_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style anti-join report: per nation, the count and total
    balance of high-balance customers (c_acctbal above the positive-
    balance average — Q22's scalar subquery) who have never placed an
    URGENT-priority order (the NOT EXISTS arm; the synthetic data keeps
    every customer active, so dormancy is priority-shaped rather than
    date-shaped).

    Scale shape: the scalar average is an exact one-row aggregate
    broadcast onto the customer scan (crossJoin of a 1-row relation —
    Catalyst plans BroadcastNestedLoopJoin); the NOT EXISTS is a
    left_anti join against the filtered orders projection, shuffled on
    custkey with the priority filter pushed to the scan. Exactness: the
    average is exact-decimal sum / count in one IEEE division, compared
    against cent-exact balances; per-nation totals are decimal sums."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(dec2(F.col("c_acctbal"))).cast("double") / F.count("*")
        ).alias("avg_bal")
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    hb = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    untapped = hb.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        untapped.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec2(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )


SQL_JOIN_UNTAPPED_CUSTOMERS = """
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
"""


TOP_SUPPLIER_QUARTER = ("1996-01-01", "1996-04-01")  # Q15's 3-month window


def q_join_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style decorrelated MAX over an aggregate: the
    supplier(s) with the maximum total revenue in one quarter — the
    revenue-view + ``= (SELECT MAX(total) FROM view)`` pattern.

    Scale shape: the shipdate filter is pushed into the lineitem scan,
    ONE partial-aggregated shuffle collapses the quarter's lineitems to
    exact-decimal revenue per supplier, and the scalar MAX rides a
    global window over that supplier-sized rollup (model-sized relation
    — the same single-pass trade as graph_hits' L1 totals: a one-row
    crossJoin would re-evaluate the rollup). The winner join to
    supplier attributes is a broadcast. Exactness: decimal revenue
    sums; MAX over exact decimals; the equality filter compares the
    decimals BEFORE any double cast, so float ties cannot split the
    winner set."""
    lo, hi = TOP_SUPPLIER_QUARTER
    rev_q = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount"))).alias("total_rev"))
    )
    w_all = Window.partitionBy()
    best = rev_q.withColumn("max_rev", F.max("total_rev").over(w_all)).filter(
        F.col("total_rev") == F.col("max_rev")
    )
    return best.join(
        F.broadcast(load(spark, sf_dir, "supplier")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.col("total_rev").cast("double").alias("total_revenue"),
    )


SQL_JOIN_TOP_SUPPLIER = f"""
    WITH rev_q AS (
        SELECT l_suppkey, SUM({_SQL_REV_TERM}) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{TOP_SUPPLIER_QUARTER[0]}'
          AND l_shipdate <  TIMESTAMP '{TOP_SUPPLIER_QUARTER[1]}'
        GROUP BY l_suppkey),
    best AS (
        SELECT * FROM (
            SELECT l_suppkey, total_rev,
                   MAX(total_rev) OVER () AS max_rev
            FROM rev_q)
        WHERE total_rev = max_rev)
    SELECT s_suppkey, s_name, s_acctbal,
           CAST(total_rev AS DOUBLE) AS total_revenue
    FROM best JOIN supplier ON l_suppkey = s_suppkey
"""


TRADE_NATIONS = ("NATION_18", "NATION_19")  # a pair with traffic at every SF


def q_join_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 proper: bilateral trade volume between
    {TRADE_NATIONS[0]} and {TRADE_NATIONS[1]} per order year — the
    SELECTIVE two-nation slice with Q7's OR-pair predicate, complement
    to :func:`q_join_role_dims` (which materializes the full unfiltered
    pair matrix): here the nation filter must prune BOTH fact sides
    before the fact-fact join, which is exactly what Q7 stresses.

    Scale shape: both nation filters prune via broadcasts BEFORE any
    fact-fact join (supplier side onto lineitem, customer side onto the
    pruned orders chain); lineitem collapses to one exact-decimal
    revenue row per (order, supp_nation) — partial agg below the orders
    join, the join_inner_revenue trick — so the equi-join moves
    rollups, never raw lineitems; the OR-pair predicate then evaluates
    on two broadcast-attributed string columns; final rollup is
    2 × |years| rows."""
    lo_n, hi_n = TRADE_NATIONS
    nation2 = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(lo_n, hi_n)
    )
    supn = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation2), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    custn = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation2), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    per_order = (
        load(spark, sf_dir, "lineitem")
        .join(F.broadcast(supn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_orderkey", "supp_nation")
        .agg(
            F.sum(
                revenue(F.col("l_extendedprice"), F.col("l_discount"))
            ).alias("vol")
        )
    )
    joined = (
        per_order.join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(custn, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == lo_n) & (F.col("cust_nation") == hi_n))
            | ((F.col("supp_nation") == hi_n) & (F.col("cust_nation") == lo_n))
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("o_orderdate").cast("int").alias("l_year"),
    ).agg(F.sum("vol").cast("double").alias("revenue"))


SQL_JOIN_NATION_TRADE = f"""
    WITH n2 AS (
        SELECT n_nationkey, n_name FROM nation
        WHERE n_name IN ('{TRADE_NATIONS[0]}', '{TRADE_NATIONS[1]}')),
    supn AS (
        SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN n2 ON s_nationkey = n_nationkey),
    custn AS (
        SELECT c_custkey, n_name AS cust_nation
        FROM customer JOIN n2 ON c_nationkey = n_nationkey),
    per_order AS (
        SELECT l_orderkey, supp_nation, SUM({_SQL_REV_TERM}) AS vol
        FROM lineitem JOIN supn ON l_suppkey = s_suppkey
        GROUP BY 1, 2)
    SELECT supp_nation, cust_nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS l_year,
           CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM per_order
    JOIN orders ON l_orderkey = o_orderkey
    JOIN custn  ON o_custkey = c_custkey
    WHERE (supp_nation = '{TRADE_NATIONS[0]}'
           AND cust_nation = '{TRADE_NATIONS[1]}')
       OR (supp_nation = '{TRADE_NATIONS[1]}'
           AND cust_nation = '{TRADE_NATIONS[0]}')
    GROUP BY 1, 2, 3
"""


def q_join_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: for every
    customer, how many non-urgent orders they placed (the reference Q13
    filters ``o_comment NOT LIKE '%special%requests%'``; this schema has
    no comment column, so the analog excludes ``1-URGENT`` priority —
    same shape, different predicate), then the histogram of those counts
    INCLUDING the zero-order customers. The classic left-join-then-
    histogram: the filter must live on the join's inner side (Q13 puts
    it in the ON clause), because a WHERE would silently drop the
    zero-order customers that are the query's whole point.

    Scale shape: orders collapses to one count row per custkey BELOW
    the join (partial-agg-below-join — the filter is pushed into that
    scan, so filtered-out orders never reach any join), customer left-
    joins the customer-sized rollup on one custkey exchange, and the
    histogram is a second aggregate over ≤max-order-count distinct
    values. No fact table ever crosses a join unaggregated. Exactness:
    pure integer counts."""
    oc = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    per_cust = (
        load(spark, sf_dir, "customer")
        .join(oc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_JOIN_ORDER_COUNT_DIST = """
    WITH oc AS (
        SELECT o_custkey, COUNT(*) AS cnt
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey)
    SELECT COALESCE(cnt, 0) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM customer LEFT JOIN oc ON c_custkey = o_custkey
    GROUP BY 1
"""


WAITING_LATE_DAYS = 90  # ship > orderdate + 90d = "kept the order waiting"


def q_join_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style waiting-supplier report: for finalized ('F')
    multi-supplier orders, the suppliers who were the ONLY late supplier
    on an order (late = shipped > {WAITING_LATE_DAYS} days after the
    order date; the reference uses receipt > commit date, absent from
    this schema), counted per supplier, top 100. Q21's correlated
    EXISTS (another supplier on the order) / NOT EXISTS (another LATE
    supplier) pair decorrelates into plain counts over the per-order
    supplier profile: EXISTS-other ⇔ n_suppliers > 1, NOT-EXISTS-other-
    late ⇔ n_late = 1 given this supplier is late. The DuckDB oracle
    deliberately keeps the textbook EXISTS/NOT EXISTS form, so the
    grading hash proves the decorrelation exact.

    Scale shape: lineitem collapses to one (order, supplier,
    max_shipdate) row BELOW any join — lateness only needs the LATEST
    ship date, so the rollup loses nothing — then joins the 'F'-orders
    projection on orderkey, and the per-order profile counts ride a
    window partitioned by that same orderkey. The rollup crosses
    exactly ONE hash(orderkey) exchange total (pinned in
    tests/test_plans.py): when orders broadcasts (small SF) the window
    owns it; when the join goes sort-merge (100 TB) the window reuses
    the join's exchange and adds only a sort. Raw lineitem rows never
    cross a join. Final per-supplier count is a supplier-sized
    aggregate; the attributes join is left to AQE (both sides
    supplier-sized — auto-broadcast at small SF, sort-merge at the
    scale where supplier outgrows the broadcast limit); top-100 by
    TakeOrdered under the total order (numwait desc, s_name,
    s_suppkey), never a global sort."""
    prof = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
    )
    f_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    flagged = prof.join(
        f_orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("max_ship")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {WAITING_LATE_DAYS} DAYS")
        )
        .cast("int")
        .alias("late"),
    )
    w_ord = Window.partitionBy("l_orderkey")
    waiting = (
        flagged.withColumn("n_supp", F.count("*").over(w_ord))
        .withColumn("n_late", F.sum("late").over(w_ord))
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
    )
    counts = waiting.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))
    # attributes join left to AQE: both sides are supplier-sized (counts
    # ≤ |suppliers|), so it auto-broadcasts at small SF but may go
    # sort-merge at 100 TB where a billion-supplier table outgrows the
    # broadcast limit — a forced hint here would kill the job there
    return (
        counts.join(
            load(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name", "s_suppkey")
        .limit(100)
    )


SQL_JOIN_WAITING_SUPPLIER = f"""
    WITH prof AS MATERIALIZED (
        SELECT l_orderkey AS ok, l_suppkey AS sk, MAX(l_shipdate) AS max_ship
        FROM lineitem GROUP BY 1, 2),
    flagged AS MATERIALIZED (
        SELECT ok, sk,
               CASE WHEN max_ship > o_orderdate
                        + INTERVAL {WAITING_LATE_DAYS} DAY
                    THEN 1 ELSE 0 END AS late
        FROM prof JOIN orders ON ok = o_orderkey
        WHERE o_orderstatus = 'F'),
    waiting AS (
        SELECT p.sk FROM flagged p
        WHERE p.late = 1
          AND EXISTS (SELECT 1 FROM flagged q
                      WHERE q.ok = p.ok AND q.sk <> p.sk)
          AND NOT EXISTS (SELECT 1 FROM flagged q
                          WHERE q.ok = p.ok AND q.sk <> p.sk AND q.late = 1))
    SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waiting JOIN supplier ON sk = s_suppkey
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_name, s_suppkey
    LIMIT 100
"""


Q19_ARMS = (
    # (brand, max_size, qty_lo, qty_hi) — brand-disjoint, so arm
    # attribution is exact and the output is one row per matched arm
    ("Brand#1", 20, 1, 15),
    ("Brand#2", 30, 10, 25),
    ("Brand#3", 40, 20, 35),
)


def q_join_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style discounted revenue under an OR-of-ANDs predicate
    spanning BOTH join sides: three (brand, size-band, quantity-band)
    arms, revenue and item count per matched arm. The shape exists to
    exercise disjunctive predicate handling — no single conjunct can be
    pushed below the join, because every condition lives under an OR
    whose arms mix part columns with lineitem columns.

    Scale shape: Catalyst cannot derive cross-side implied filters from
    a disjunction, so the operator pushes them EXPLICITLY — the
    lineitem scan gets the quantity hull [min lo, max hi], the part
    scan gets the brand IN-set and the size hull (both redundant with
    the OR, both pinned in PushedFilters by tests/test_plans.py) —
    at 100 TB that is the difference between scanning the fact table
    and scanning the ~3-brand slice of it after row-group pruning.
    The join strategy stays with AQE (the brand slice auto-broadcasts
    at small SF but is a fixed fraction of part, not bounded); the
    full OR evaluates once on the joined row. Exactness: cent-exact
    decimal revenue sums, exact counts."""
    qty_lo = min(a[2] for a in Q19_ARMS)
    qty_hi = max(a[3] for a in Q19_ARMS)
    size_hi = max(a[1] for a in Q19_ARMS)
    brands = [a[0] for a in Q19_ARMS]
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qty_lo, qty_hi)  # implied hull
    )
    pt = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(brands)
        & F.col("p_size").between(1, size_hi)  # implied hull
    )
    arm = None
    for b, sz, lo, hi in Q19_ARMS:
        cond = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(1, sz)
            & F.col("l_quantity").between(lo, hi)
        )
        arm = cond if arm is None else (arm | cond)
    # join strategy left to AQE: the brand slice auto-broadcasts at
    # small SF (pinned), but it is a fixed FRACTION of part (~3/25),
    # not a bounded relation — at the SF where it outgrows the
    # broadcast limit the join must be free to go sort-merge
    return (
        li.join(pt, F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm)
        .groupBy(F.col("p_brand").alias("arm_brand"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


def _q19_sql() -> str:
    qty_lo = min(a[2] for a in Q19_ARMS)
    qty_hi = max(a[3] for a in Q19_ARMS)
    size_hi = max(a[1] for a in Q19_ARMS)
    brands = ", ".join(f"'{a[0]}'" for a in Q19_ARMS)
    arms = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {sz}"
        f" AND l_quantity BETWEEN {lo} AND {hi})"
        for b, sz, lo, hi in Q19_ARMS
    )
    return f"""
    SELECT p_brand AS arm_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_SQL_REV_TERM}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity BETWEEN {qty_lo} AND {qty_hi}
      AND p_brand IN ({brands}) AND p_size BETWEEN 1 AND {size_hi}
      AND ({arms})
    GROUP BY 1
"""


SQL_JOIN_DISJUNCTIVE_REVENUE = _q19_sql()


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1996-06-30"


def q_join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: the top-10 highest-revenue orders not yet shipped as
    of {Q3_DATE} for the {Q3_SEGMENT} market segment — the date-SPLIT
    join (orders placed BEFORE the date, lineitems shipped AFTER it),
    the canonical online-report shape.

    Scale shape: both date filters push to their scans; lineitem's
    post-date slice collapses to one exact-decimal revenue row per
    orderkey BELOW the join (the partial-agg-below-join trick — the
    fact never crosses a join raw, pinned); the segment filter prunes
    customer before its join with the date-pruned orders; top-10 is
    TakeOrdered under the total order (revenue desc, o_orderdate,
    l_orderkey), never a global sort."""
    d = F.lit(Q3_DATE).cast("timestamp_ntz")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > d)
        .groupBy("l_orderkey")
        .agg(
            F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            F.col("rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SQL_JOIN_SHIPPING_PRIORITY = f"""
    WITH li AS (
        SELECT l_orderkey, SUM({_SQL_REV_TERM}) AS rev
        FROM lineitem WHERE l_shipdate > TIMESTAMP '{Q3_DATE}'
        GROUP BY l_orderkey)
    SELECT l_orderkey, CAST(rev AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM orders JOIN li ON o_orderkey = l_orderkey
    WHERE o_orderdate < TIMESTAMP '{Q3_DATE}'
      AND EXISTS (SELECT 1 FROM customer
                  WHERE c_custkey = o_custkey
                    AND c_mktsegment = '{Q3_SEGMENT}')
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""


Q10_QUARTER = ("1996-01-01", "1996-04-01")


def q_join_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: the top-20 customers by revenue lost to returned
    items ('R'-flag lineitems) on orders placed in one quarter — the
    churn-review report.

    Scale shape: the returnflag filter pushes to the lineitem scan and
    the slice collapses to per-orderkey exact-decimal revenue BELOW the
    orders join; the quarter filter pushes to the orders scan; the
    per-customer rollup happens BEFORE customer attributes join (so
    the join moves one row per customer, not per order); nation
    broadcasts; top-20 is TakeOrdered under (revenue desc,
    c_custkey)."""
    lo, hi = Q10_QUARTER
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
    )
    per_cust = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("rev"))
    )
    return (
        per_cust.join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "c_acctbal",
            F.col("rev").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_JOIN_RETURNED_ITEMS = f"""
    WITH li AS (
        SELECT l_orderkey, SUM({_SQL_REV_TERM}) AS rev
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY l_orderkey),
    per_cust AS (
        SELECT o_custkey, SUM(rev) AS rev
        FROM orders JOIN li ON o_orderkey = l_orderkey
        WHERE o_orderdate >= TIMESTAMP '{Q10_QUARTER[0]}'
          AND o_orderdate <  TIMESTAMP '{Q10_QUARTER[1]}'
        GROUP BY o_custkey)
    SELECT c_custkey, c_name, n_name AS nation, c_acctbal,
           CAST(rev AS DOUBLE) AS revenue
    FROM per_cust
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


MIN_PAIR_SUPPORT = 5  # absolute co-occurrence floor for reported rules


def q_join_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant, VLDB 1994 shape, materialized at the pair level): for every
    unordered brand pair co-purchased in ≥{MIN_PAIR_SUPPORT} orders,
    support (pair share of all baskets), both directional confidences,
    and lift. Items are part BRANDS (bounded domain) so the pair lattice
    stays dense enough to rank.

    Scale shape: lineitem joins the broadcast part dim, collapses to
    DISTINCT (order, brand) — the basket relation, bounded by
    |orders|·|brands| — BEFORE any pairing, and that rollup is
    ``localCheckpoint``-ed because it has FOUR consumers (both self-join
    sides, the brand marginals, the basket total): without the cut the
    lazy plan re-derives it per consumer and lineitem is scanned four
    times (the KN-LM re-evaluation lesson, seen in this plan before the
    fix). Pairing is a self-join on orderkey with brand_a < brand_b, so
    per-basket fanout is C(k,2) with k ≤ |brands|, never |lineitem|².
    Brand marginals and the basket total are brand-sized/scalar rollups
    broadcast back onto the pair-sized result — no full-data exchange
    after the basket rollup. All ratios are exact-integer counts cast
    to double through one IEEE tree shared with the oracle, rounded to
    6 dp. The oracle's baskets CTE is AS MATERIALIZED for the same
    multi-consumer reason.
    """
    baskets = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(load(spark, sf_dir, "part")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint()  # bounded: ≤ |orders|·|brands| rows, 4 consumers
    )
    n_baskets = baskets.groupBy().agg(
        F.count_distinct("l_orderkey").alias("n_baskets")
    )
    brand_cnt = baskets.groupBy("p_brand").agg(F.count("*").alias("cnt"))
    a = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= MIN_PAIR_SUPPORT)
    )
    ca = brand_cnt.select(
        F.col("p_brand").alias("brand_a"), F.col("cnt").alias("cnt_a")
    )
    cb = brand_cnt.select(
        F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cnt_b")
    )
    pc = F.col("pair_cnt").cast("double")
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            F.round(pc / F.col("n_baskets").cast("double"), 6).alias(
                "support"
            ),
            F.round(pc / F.col("cnt_a").cast("double"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(pc / F.col("cnt_b").cast("double"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (pc * F.col("n_baskets").cast("double"))
                / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


SQL_JOIN_COPURCHASE_LIFT = f"""
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets),
    brand_cnt AS (
        SELECT p_brand, COUNT(*) AS cnt FROM baskets GROUP BY 1),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS pair_cnt
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_PAIR_SUPPORT})
    SELECT brand_a, brand_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
           ROUND(CAST(pair_cnt AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
               AS support,
           ROUND(CAST(pair_cnt AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6)
               AS conf_a_to_b,
           ROUND(CAST(pair_cnt AS DOUBLE) / CAST(cb.cnt AS DOUBLE), 6)
               AS conf_b_to_a,
           ROUND((CAST(pair_cnt AS DOUBLE) * CAST(n_baskets AS DOUBLE))
                 / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6)
               AS lift
    FROM pairs
    JOIN brand_cnt ca ON ca.p_brand = brand_a
    JOIN brand_cnt cb ON cb.p_brand = brand_b
    CROSS JOIN n
"""


QUERIES = {
    "join_copurchase_lift": Query(
        q_join_copurchase_lift, SQL_JOIN_COPURCHASE_LIFT
    ),
    "join_shipping_priority": Query(
        q_join_shipping_priority, SQL_JOIN_SHIPPING_PRIORITY
    ),
    "join_returned_items": Query(
        q_join_returned_items, SQL_JOIN_RETURNED_ITEMS
    ),
    "join_disjunctive_revenue": Query(
        q_join_disjunctive_revenue, SQL_JOIN_DISJUNCTIVE_REVENUE
    ),
    "join_order_count_dist": Query(
        q_join_order_count_dist, SQL_JOIN_ORDER_COUNT_DIST
    ),
    "join_waiting_supplier": Query(
        q_join_waiting_supplier, SQL_JOIN_WAITING_SUPPLIER
    ),
    "join_nation_trade": Query(q_join_nation_trade, SQL_JOIN_NATION_TRADE),
    "join_top_supplier": Query(q_join_top_supplier, SQL_JOIN_TOP_SUPPLIER),
    "join_min_price_supplier": Query(
        q_join_min_price_supplier, SQL_JOIN_MIN_PRICE_SUPPLIER
    ),
    "join_untapped_customers": Query(
        q_join_untapped_customers, SQL_JOIN_UNTAPPED_CUSTOMERS
    ),
    "join_market_share": Query(q_join_market_share, SQL_JOIN_MARKET_SHARE),
    "join_cdc_merge": Query(q_join_cdc_merge, SQL_JOIN_CDC_MERGE),
    "join_asof_nearest": Query(q_join_asof_nearest, SQL_JOIN_ASOF_NEAREST),
    "join_role_dims": Query(q_join_role_dims, SQL_JOIN_ROLE_DIMS),
    "join_inner_revenue": Query(q_join_inner_revenue, SQL_JOIN_INNER, headline=True),
    "join_left_order_counts": Query(q_join_left_order_counts, SQL_JOIN_LEFT),
    "join_semi": Query(q_join_semi, SQL_JOIN_SEMI),
    "join_anti": Query(q_join_anti, SQL_JOIN_ANTI),
    "join_range_band": Query(q_join_range_band, SQL_JOIN_RANGE),
    "join_asof": Query(q_join_asof, SQL_JOIN_ASOF, headline=True),
    "join_asof_tolerance": Query(q_join_asof_tolerance, SQL_JOIN_ASOF_TOLERANCE),
    "join_skew_salted": Query(q_join_skew_salted, SQL_JOIN_SKEW, headline=True),
    "join_bucketed": Query(q_join_bucketed, SQL_JOIN_BUCKETED),
    "join_pit_scd2": Query(q_join_pit_scd2, SQL_JOIN_PIT_SCD2),
}
