"""Probabilistic sketch operators: Bloom-filter semi-join, count-min
heavy hitters, and a portable HyperLogLog (SURVEY.md §2.4 extension
surface; no reference citation — the reference implements none of this).

Sketches are THE 100 TB workhorse: they replace wide shuffles with tiny
mergeable state. The engine already exercises Spark's built-in runtime
bloom-filter injection (tests/test_plans.py); the operators here are the
*explicit* versions a pipeline author reaches for when the filter must
cross job or system boundaries (ship a Bloom filter to a different
cluster, keep an HLL per partition-file, merge count-min sketches across
days). Every hash is the portable md5-derived family the dedup/LSH
operators use, so each sketch is deterministic and cross-engine exact —
the DuckDB oracle reproduces the sketch bit-for-bit, not just its
approximate answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import Query
from ..tables import load
from .llmdata import _portable_hash

# ---------------------------------------------------------------------------
# Bloom-filter semi-join
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 13  # bits in the filter
BLOOM_K = 4  # hash functions
BLOOM_SEGMENT = "BUILDING"


def _bloom_positions(key: Column) -> list[Column]:
    """The k salted bit positions of a key (portable md5 family)."""
    return [
        F.pmod(_portable_hash(F.concat(F.lit(f"bloom{i}:"), key)), F.lit(BLOOM_M))
        for i in range(BLOOM_K)
    ]


def bloom_semi_join_stats(
    members: DataFrame, member_key: str, probe: DataFrame, probe_key: str
) -> DataFrame:
    """Build a Bloom filter over ``members`` and probe it with ``probe``;
    return the exact confusion matrix (bloom_pass × is_member → count).

    Scale shape: the filter is m bits regardless of member count — built
    with one distinct-aggregate over the (small) member side, broadcast
    to the probe side as a single array row, and the probe is a NARROW
    filter (no shuffle touches the big side; the only exchange is the
    final tiny groupBy). This is exactly what Spark's AQE runtime filter
    does implicitly; the explicit operator exists for filters that must
    outlive the job. False positives are part of the contract — the
    matrix makes the rate visible instead of averaging it away.
    """
    # The filter is a REAL bit array: m bits packed into m/64 longs and
    # probed with an O(1) word-index + bit_get — not a linear
    # array_contains scan, which at |bits|≈m positions × k hashes made
    # the probe O(m·k) per row (measured 5.7s → sub-second at sf0.1).
    # The pack happens driver-side from a collect BOUNDED BY m (the whole
    # point of a Bloom filter is that these m bits are the thing small
    # enough to serialize and ship across jobs/clusters); the words enter
    # the probe plan as literals — no join, no broadcast variable.
    n_words = BLOOM_M // 64
    positions = members.select(
        F.explode(F.array(*_bloom_positions(F.col(member_key)))).alias("pos")
    ).distinct()
    words = [0] * n_words
    for r in positions.collect():
        words[r.pos // 64] |= 1 << (r.pos % 64)
    # re-interpret as signed 64-bit for the Spark long literal
    signed = [(w - (1 << 64)) if w >= (1 << 63) else w for w in words]
    member_set = members.select(F.col(member_key).alias("mk")).distinct()
    probed = probe.withColumn(
        "words", F.array(*[F.lit(w).cast("long") for w in signed])
    )
    for i, p in enumerate(_bloom_positions(F.col(probe_key))):
        probed = probed.withColumn(f"_pos{i}", p)
    probed = (
        probed.withColumn(
            "bloom_pass",
            _all_true(
                [
                    F.expr(
                        f"bit_get(element_at(words, CAST(_pos{i} DIV 64 AS INT) + 1),"
                        f" CAST(_pos{i} % 64 AS INT)) = 1"
                    )
                    for i in range(BLOOM_K)
                ]
            ),
        )
        .join(
            F.broadcast(member_set),
            F.col(probe_key) == F.col("mk"),
            "left",
        )
        .withColumn("is_member", F.col("mk").isNotNull())
    )
    return (
        probed.groupBy("bloom_pass", "is_member")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("bloom_pass", "is_member")
    )


def _all_true(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def q_sketch_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: Bloom filter of BUILDING-segment customers
    probed by orders — a pre-filter for the classic orders⨝customer
    semi-join (compare ``join_semi``, which computes the exact answer)."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == BLOOM_SEGMENT
    )
    return bloom_semi_join_stats(
        cust, "c_custkey", load(spark, sf_dir, "orders"), "o_custkey"
    )


_SQL_MD5_POS = (
    "CAST(('0x' || substr(md5('bloom{i}:' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
    f" % {BLOOM_M} AS BIGINT)"
)

SQL_SKETCH_BLOOM = f"""
    WITH members AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'),
    bits AS (
        SELECT DISTINCT pos FROM members, UNNEST([
            {", ".join(_SQL_MD5_POS.format(i=i, key="c_custkey") for i in range(BLOOM_K))}
        ]) AS t(pos)),
    probed AS (
        SELECT o_custkey,
               {" AND ".join(
                   _SQL_MD5_POS.format(i=i, key="o_custkey") + " IN (SELECT pos FROM bits)"
                   for i in range(BLOOM_K))} AS bloom_pass,
               o_custkey IN (SELECT c_custkey FROM members) AS is_member
        FROM orders)
    SELECT bloom_pass, is_member, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM probed GROUP BY 1, 2 ORDER BY 1, 2
"""

# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 256  # counters per row
CMS_TOP = 20


def cms_hashed(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Key column + its d salted counter indexes (narrow projection)."""
    return events.select(
        F.col(key),
        *[
            F.pmod(
                _portable_hash(F.concat(F.lit(f"cms{i}:"), F.col(key))), F.lit(CMS_W)
            ).alias(f"idx{i}")
            for i in range(CMS_D)
        ],
    )


def cms_sketch(hashed: DataFrame) -> DataFrame:
    """The d×w counter matrix as a (row, idx, cnt) relation.

    ONE partially-aggregated groupBy on (row, idx) — shuffle volume is
    bounded by d·w counters per map partition, never by the data (this
    is why count-min works on a 100 TB stream: the merge of two sketches
    is elementwise ADD, which IS Spark's map-side combine — and equally
    Structured Streaming's incremental aggregation state)."""
    return (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"), F.col(f"idx{i}").alias("idx")
                        )
                        for i in range(CMS_D)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.idx").alias("idx"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_finish(sketch: DataFrame, hashed: DataFrame, key: str = "user_id") -> DataFrame:
    """Estimate vs truth for the top keys: join each key's d positions
    against the tiny (broadcast) sketch, take the row-minimum; estimate
    ≥ truth always, overestimate driven by collisions in w."""
    truth = hashed.groupBy(key, *[f"idx{i}" for i in range(CMS_D)]).agg(
        F.count("*").alias("n_true")
    )
    est = truth
    for i in range(CMS_D):
        est = est.join(
            F.broadcast(
                sketch.filter(F.col("row") == i).select(
                    F.col("idx").alias(f"idx{i}"), F.col("cnt").alias(f"cnt{i}")
                )
            ),
            f"idx{i}",
        )
    return (
        est.select(
            key,
            "n_true",
            F.least(*[F.col(f"cnt{i}") for i in range(CMS_D)]).alias("n_cms"),
        )
        .orderBy(F.col("n_true").desc(), key)
        .limit(CMS_TOP)
    )


def countmin_estimates(events: DataFrame) -> DataFrame:
    """Build a d×w count-min sketch over ``user_id`` occurrences and report
    the sketch estimate next to the true count for the top keys."""
    hashed = cms_hashed(events, "user_id")
    return cms_finish(cms_sketch(hashed), hashed, "user_id")


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: count-min heavy hitters over events.user_id."""
    return countmin_estimates(load(spark, sf_dir, "events"))


_SQL_CMS_IDX = (
    "CAST(('0x' || substr(md5('cms{i}:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT"
    f" % {CMS_W} AS BIGINT)"
)

SQL_SKETCH_COUNTMIN = f"""
    WITH hashed AS (
        SELECT user_id,
               {", ".join(_SQL_CMS_IDX.format(i=i) + f" AS idx{i}" for i in range(CMS_D))}
        FROM events),
    sketch AS (
        SELECT row, idx, COUNT(*) AS cnt FROM hashed, UNNEST([
            {", ".join(f"{{'row': {i}, 'idx': idx{i}}}" for i in range(CMS_D))}
        ]) AS t(cell), LATERAL (SELECT cell.row AS row, cell.idx AS idx)
        GROUP BY row, idx),
    truth AS (
        SELECT user_id, {", ".join(f"idx{i}" for i in range(CMS_D))},
               COUNT(*) AS n_true
        FROM hashed GROUP BY ALL)
    SELECT user_id, n_true,
           LEAST({", ".join(
               f"(SELECT cnt FROM sketch WHERE row = {i} AND idx = idx{i})"
               for i in range(CMS_D))}) AS n_cms
    FROM truth
    ORDER BY n_true DESC, user_id LIMIT {CMS_TOP}
"""

# ---------------------------------------------------------------------------
# Portable HyperLogLog
# ---------------------------------------------------------------------------

HLL_P = 9  # 2^9 = 512 registers
HLL_M = 1 << HLL_P
# remaining hash bits after the register index is divided out of the
# 60-bit portable hash space
HLL_REST_BITS = 60 - HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# numerator of the raw estimate, precomputed in Python so BOTH engines
# receive the identical double (DuckDB types a bare long decimal literal
# as DECIMAL, which overflows when multiplied out — and would round
# differently anyway)
_HLL_RAW_NUM = _HLL_ALPHA * HLL_M * HLL_M


def _hll_register_ranks(keys: DataFrame, key: str) -> DataFrame:
    """(register, max rank-of-first-set-bit) pairs for a key column.

    rank = leading zeros in the remaining hash bits + 1, computed EXACTLY
    via the binary-string length (floor(log2) on floats is off-by-one at
    powers of two); this is the per-register state a real deployment
    persists per file/partition and merges with MAX.
    """
    h = _portable_hash(F.concat(F.lit("hll:"), F.col(key)))
    reg = F.pmod(h, F.lit(HLL_M))
    # exact integer shift (HLL_M = 2^HLL_P): float division would promote
    # the 60-bit hash to double, which is lossy above 2^53 and can flip
    # the rank for hashes adjacent to a register boundary
    rest = F.shiftrightunsigned(h.cast("long"), HLL_P)
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rank = F.when(rest == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
        F.lit(HLL_REST_BITS + 1) - bitlen
    )
    return (
        keys.select(reg.alias("register"), rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate_from_registers(regs: DataFrame, label: str) -> DataFrame:
    """(register, max_rank) state → one-row cardinality estimate.

    The indicator sum Σ 2^-M_j is computed in EXACT integer arithmetic
    (each term scaled by 2^rest_bits is an integer, summed as decimal) so
    the estimate is order-independent and engine-identical — the one
    float rounding happens once, at the end. Includes the standard
    small-range linear-counting correction. Split out from
    :func:`hll_estimate` because the register relation is the MERGEABLE
    part: batch files, streaming state, and partition manifests all hand
    their registers to this same finisher.
    """
    scale = F.lit(1 << HLL_REST_BITS).cast("decimal(38,0)")
    agg = regs.agg(
        F.sum(
            (scale / F.pow(F.lit(2.0), F.col("max_rank")).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("scaled_sum"),
        F.count("*").alias("n_regs"),
    )
    est = agg.select(
        F.lit(label).alias("col_label"),
        (
            (F.col("scaled_sum").cast("double") / F.lit(float(1 << HLL_REST_BITS)))
            + (F.lit(HLL_M) - F.col("n_regs")).cast("double")
        ).alias("indicator"),
        (F.lit(HLL_M) - F.col("n_regs")).cast("double").alias("n_zero"),
    )
    raw = F.lit(_HLL_RAW_NUM) / F.col("indicator")
    corrected = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("n_zero")),
    ).otherwise(raw)
    return est.select("col_label", F.round(corrected, 4).alias("n_hll"))


def hll_estimate(keys: DataFrame, key: str, label: str) -> DataFrame:
    """One-row HLL cardinality estimate vs exact distinct count. At 100 TB
    the register relation is 512 rows per sketch; merging day-files is
    max-per-register — this is why HLL columns belong in every partition
    manifest."""
    est = hll_estimate_from_registers(_hll_register_ranks(keys, key), label)
    exact = keys.agg(F.count_distinct(F.col(key)).alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select("col_label", "n_exact", "n_hll")


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: HLL vs exact distinct for two key columns."""
    ev = load(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("k"))
    oc = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    return hll_estimate(ev, "k", "events.user_id").unionByName(
        hll_estimate(oc, "k", "orders.o_custkey")
    ).orderBy("col_label")


def _hll_sql(table: str, key: str, label: str, with_exact: bool = True) -> str:
    rest_one = 1 << HLL_REST_BITS
    exact_col = (
        f"""(SELECT CAST(COUNT(DISTINCT CAST({key} AS VARCHAR)) AS BIGINT)
            FROM {table}) AS n_exact,"""
        if with_exact
        else ""
    )
    return f"""
    SELECT '{label}' AS col_label,
           {exact_col}
           ROUND(CASE WHEN CAST({_HLL_RAW_NUM!r} AS DOUBLE) / indicator
                           <= {2.5 * HLL_M}
                      AND n_zero > 0
                 THEN CAST({HLL_M} AS DOUBLE) * LN(CAST({HLL_M} AS DOUBLE) / n_zero)
                 ELSE CAST({_HLL_RAW_NUM!r} AS DOUBLE) / indicator END, 4) AS n_hll
    FROM (
        SELECT CAST(SUM(CAST({rest_one} / POW(2.0, max_rank) AS DECIMAL(38,0)))
                    AS DOUBLE) / {float(rest_one)}
               + CAST({HLL_M} - COUNT(*) AS DOUBLE) AS indicator,
               CAST({HLL_M} - COUNT(*) AS DOUBLE) AS n_zero
        FROM (
            SELECT register, MAX(rank) AS max_rank FROM (
                SELECT h % {HLL_M} AS register,
                       CASE WHEN h // {HLL_M} = 0 THEN {HLL_REST_BITS + 1}
                            ELSE {HLL_REST_BITS + 1}
                                 - LENGTH(format('{{:b}}', h // {HLL_M})) END AS rank
                FROM (
                    SELECT ('0x' || substr(md5('hll:' || CAST({key} AS VARCHAR)),
                                           1, 15))::BIGINT AS h
                    FROM {table})
            ) GROUP BY register)
    )"""


SQL_SKETCH_HLL = f"""
    SELECT * FROM ({_hll_sql("events", "user_id", "events.user_id")})
    UNION ALL
    SELECT * FROM ({_hll_sql("orders", "o_custkey", "orders.o_custkey")})
    ORDER BY col_label
"""


def q_sketch_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra — audience overlap between two key populations
    (active event users ∩ ordering customers) WITHOUT co-shuffling them:
    union cardinality comes from merging the two 512-row register
    relations with MAX, intersection from inclusion–exclusion
    (|A| + |B| − |A∪B|). This is the sketch property that matters across
    SEGMENTS, not just partitions — each population keeps its own tiny
    sketch (per day, per source, per shard) and any union/overlap
    question is answered from sketches alone. The exact intersection
    (one semi-join over distincts) rides along as the accuracy witness,
    same contract as ``sketch_hll``'s n_exact column.
    """
    a = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    b = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    ra = _hll_register_ranks(a, "k")
    rb = _hll_register_ranks(b, "k")
    ru = ra.union(rb).groupBy("register").agg(F.max("max_rank").alias("max_rank"))
    ea = hll_estimate_from_registers(ra, "a").select(F.col("n_hll").alias("hll_a"))
    eb = hll_estimate_from_registers(rb, "b").select(F.col("n_hll").alias("hll_b"))
    eu = hll_estimate_from_registers(ru, "u").select(
        F.col("n_hll").alias("hll_union")
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "k", "left_semi")
        .agg(F.count("*").alias("n_exact_inter"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(F.broadcast(exact))
        .select(
            "hll_a",
            "hll_b",
            "hll_union",
            F.round(
                F.col("hll_a") + F.col("hll_b") - F.col("hll_union"), 4
            ).alias("hll_inter"),
            "n_exact_inter",
        )
    )


def _hll_regs_sql(table: str, key: str) -> str:
    """DuckDB twin of :func:`_hll_register_ranks` (same exact-integer
    shift as the Spark side — see the r3 ADVICE fix)."""
    return f"""
        SELECT register, MAX(rank) AS max_rank FROM (
            SELECT h % {HLL_M} AS register,
                   CASE WHEN h // {HLL_M} = 0 THEN {HLL_REST_BITS + 1}
                        ELSE {HLL_REST_BITS + 1}
                             - LENGTH(format('{{:b}}', h // {HLL_M})) END AS rank
            FROM (
                SELECT ('0x' || substr(md5('hll:' || CAST({key} AS VARCHAR)),
                                       1, 15))::BIGINT AS h
                FROM {table})
        ) GROUP BY register"""


def _hll_est_from_regs_sql(regs_cte: str, alias: str) -> str:
    """DuckDB twin of :func:`hll_estimate_from_registers` reading a
    (register, max_rank) CTE."""
    rest_one = 1 << HLL_REST_BITS
    return f"""
        SELECT ROUND(CASE WHEN CAST({_HLL_RAW_NUM!r} AS DOUBLE) / indicator
                              <= {2.5 * HLL_M}
                          AND n_zero > 0
                     THEN CAST({HLL_M} AS DOUBLE)
                          * LN(CAST({HLL_M} AS DOUBLE) / n_zero)
                     ELSE CAST({_HLL_RAW_NUM!r} AS DOUBLE) / indicator END,
                     4) AS {alias}
        FROM (
            SELECT CAST(SUM(CAST({rest_one} / POW(2.0, max_rank)
                                 AS DECIMAL(38,0))) AS DOUBLE)
                       / {float(rest_one)}
                   + CAST({HLL_M} - COUNT(*) AS DOUBLE) AS indicator,
                   CAST({HLL_M} - COUNT(*) AS DOUBLE) AS n_zero
            FROM {regs_cte})"""


SQL_SKETCH_HLL_SETOPS = f"""
    WITH ra AS ({_hll_regs_sql("events", "user_id")}),
    rb AS ({_hll_regs_sql("orders", "o_custkey")}),
    ru AS (
        SELECT register, MAX(max_rank) AS max_rank FROM (
            SELECT * FROM ra UNION ALL SELECT * FROM rb
        ) GROUP BY register),
    ea AS ({_hll_est_from_regs_sql("ra", "hll_a")}),
    eb AS ({_hll_est_from_regs_sql("rb", "hll_b")}),
    eu AS ({_hll_est_from_regs_sql("ru", "hll_union")}),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_inter FROM (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
            INTERSECT
            SELECT DISTINCT CAST(o_custkey AS VARCHAR) FROM orders))
    SELECT hll_a, hll_b, hll_union,
           ROUND(hll_a + hll_b - hll_union, 4) AS hll_inter,
           n_exact_inter
    FROM ea, eb, eu, ex
"""


# ---------------------------------------------------------------------------
# histogram-quantile sketch (mergeable fixed-bin quantiles)
# ---------------------------------------------------------------------------

QSK_BIN_W = 512.0  # power of two: the bin division is float-exact
QSK_QUANTILES = (0.5, 0.9, 0.99)


def histogram_quantiles(facts: DataFrame, group: str, value: str) -> DataFrame:
    """Quantile estimates from a fixed-width histogram sketch — the
    mergeable alternative to an exact per-group sort (``ts_mad``'s
    documented 100 TB swap, made concrete): the corpus collapses to
    (group, bin) counts in ONE partial-aggregated shuffle, and that bin
    relation IS the sketch — merging two days of data is elementwise
    count addition, the estimate is reconstructed from cumulative counts
    with linear interpolation inside the target bin (Prometheus
    ``histogram_quantile`` semantics). Error is bounded by bin width; the
    per-group window that follows runs over BIN COUNTS (bounded
    cardinality ~ value-range / QSK_BIN_W), never over rows. Everything
    downstream of the first groupBy is deterministic integer/IEEE
    arithmetic, so the DuckDB oracle reproduces the estimates exactly.
    """
    return histogram_quantile_finish(
        histogram_bins(facts, group, value, QSK_BIN_W), group, QSK_BIN_W
    )


def histogram_bins(
    facts: DataFrame, group: str, value: str, bin_w: float = QSK_BIN_W
) -> DataFrame:
    """The sketch itself: (g, bin, cnt). Merging two sketches is
    ``union → groupBy(g, bin) → sum(cnt)`` — elementwise count addition,
    the property the mergeability test pins."""
    return (
        facts.select(
            F.col(group).alias("g"),
            F.floor(F.col(value) / F.lit(bin_w)).cast("long").alias("bin"),
        )
        .groupBy("g", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantile_finish(
    bins: DataFrame, group: str, bin_w: float = QSK_BIN_W
) -> DataFrame:
    """Reconstruct quantile estimates from a (g, bin, cnt) sketch."""
    wg = Window.partitionBy("g")
    cum = bins.select(
        "g",
        "bin",
        "cnt",
        F.sum("cnt").over(wg.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(wg).alias("n_total"),
    )
    q = F.explode(F.array(*[F.lit(x) for x in QSK_QUANTILES])).alias("q")
    qs = cum.select("g", "bin", "cnt", "cum", "n_total", q)
    target = F.col("q") * F.col("n_total")
    return (
        qs.filter((target > F.col("cum") - F.col("cnt")) & (target <= F.col("cum")))
        .select(
            F.col("g").alias(group),
            "q",
            "n_total",
            F.round(
                F.col("bin") * F.lit(bin_w)
                + F.lit(bin_w)
                * (target - (F.col("cum") - F.col("cnt")))
                / F.col("cnt"),
                6,
            ).alias("est"),
        )
    )


def q_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: p50/p90/p99 of l_extendedprice per return flag
    from the fixed-bin histogram sketch."""
    li = load(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_returnflag", "l_extendedprice")


_QSK_QLIST = ", ".join(f"CAST({x} AS DOUBLE)" for x in QSK_QUANTILES)

SQL_SKETCH_QUANTILE = f"""
    WITH bins AS (
        SELECT l_returnflag AS g,
               CAST(FLOOR(l_extendedprice / CAST({QSK_BIN_W} AS DOUBLE)) AS BIGINT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2),
    cum AS (
        SELECT g, bin, cnt,
               SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS n_total
        FROM bins),
    qs AS (
        SELECT g, bin, cnt, cum, n_total, q.q
        FROM cum, UNNEST([{_QSK_QLIST}]) q(q))
    SELECT g AS l_returnflag, q, CAST(n_total AS BIGINT) AS n_total,
           ROUND(bin * CAST({QSK_BIN_W} AS DOUBLE)
                 + CAST({QSK_BIN_W} AS DOUBLE)
                   * (q * n_total - (cum - cnt)) / cnt, 6) AS est
    FROM qs
    WHERE q * n_total > cum - cnt AND q * n_total <= cum
"""


KMV_K = 64
_KMV_SPACE = float(1 << 60)  # portable-hash space as ONE shared double
_KMV_NUM = (KMV_K - 1) * _KMV_SPACE  # estimator numerator, precomputed


def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch — the
    ORDER-STATISTICS family beside HLL's register maxima: keep the k
    smallest hash values ever seen; if the kth-smallest sits at fraction
    f of the hash space, distinctness ≈ (k−1)/f. Bottom-k sets merge by
    union + re-take-bottom-k (min-merge — a property test proves the
    per-stratum union reaches the global sketch), and unlike HLL the
    SAME sketch also yields a uniform sample of the distinct keys.

    Plan: hash + distinct (one shuffle), bottom-k via orderBy+limit
    (TakeOrdered per-partition heads, never a global sort), scalar
    close. Fewer-than-k distincts degenerate to the EXACT count (the
    sf0.001 corpus exercises that arm; sf0.01 exercises the estimator).
    Exact integer kth-min; the estimate closes in one shared double
    division — bit-reproduced by DuckDB like every sketch here.
    """
    ev = load(spark, sf_dir, "events")
    hashes = ev.select(
        _portable_hash(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h")
    ).distinct()
    bottom = hashes.orderBy("h").limit(KMV_K)
    sketch = bottom.agg(
        F.count("*").alias("k_used"), F.max("h").alias("kth_min")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    est = F.when(
        F.col("k_used") < KMV_K, F.col("k_used").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth_min").cast("double"))
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            "k_used",
            "kth_min",
            F.round(est, 4).alias("est_distinct"),
            "exact_distinct",
            # CASE-guard: ANSI /0 on an empty slice (exact_distinct=0)
            F.when(
                F.col("exact_distinct") > 0,
                F.round(
                    (est - F.col("exact_distinct").cast("double"))
                    / F.col("exact_distinct").cast("double"),
                    6,
                ),
            ).alias("rel_error"),
        )
    )


SQL_SKETCH_KMV = f"""
    WITH hashes AS (
        SELECT DISTINCT ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                        1, 15))::BIGINT AS h
        FROM events),
    bottom AS (SELECT h FROM hashes ORDER BY h LIMIT {KMV_K}),
    sketch AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
               MAX(h) AS kth_min
        FROM bottom),
    exact AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events)
    SELECT k_used, kth_min,
           ROUND(CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE)
                      ELSE {_KMV_NUM!r} / CAST(kth_min AS DOUBLE) END, 4)
               AS est_distinct,
           exact_distinct,
           CASE WHEN exact_distinct > 0
                THEN ROUND((CASE WHEN k_used < {KMV_K}
                                 THEN CAST(k_used AS DOUBLE)
                                 ELSE {_KMV_NUM!r} / CAST(kth_min AS DOUBLE)
                            END
                            - CAST(exact_distinct AS DOUBLE))
                           / CAST(exact_distinct AS DOUBLE), 6)
           END AS rel_error
    FROM sketch CROSS JOIN exact
"""


QUERIES = {
    "sketch_kmv": Query(q_sketch_kmv, SQL_SKETCH_KMV),
    "sketch_bloom_join": Query(q_sketch_bloom_join, SQL_SKETCH_BLOOM),
    "sketch_countmin": Query(q_sketch_countmin, SQL_SKETCH_COUNTMIN),
    "sketch_hll": Query(q_sketch_hll, SQL_SKETCH_HLL),
    "sketch_quantile": Query(q_sketch_quantile, SQL_SKETCH_QUANTILE),
    "sketch_hll_setops": Query(q_sketch_hll_setops, SQL_SKETCH_HLL_SETOPS),
}
