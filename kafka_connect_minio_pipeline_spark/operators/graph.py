"""Graph centrality over relational data: fixed-iteration PageRank on
the customer–supplier interaction graph (SURVEY.md §2.4 extension
surface; tail registry position, verified by the local DuckDB parity net).

The reference has no graph operators; this is the second iterative
DataFrame algorithm in the engine (with ``dedup_clusters``'
large-star/small-star loop): rank vectors and edge lists as plain relations, one
join + one aggregation per iteration, the loop unrolled in the driver
while every pass stays fully distributed. The cross-engine exactness
trick is the usual one — per-edge contributions are quantized to
``decimal(28,18)`` before the SUM, making the only order-sensitive step
(float addition) order-free and bit-identical in Spark and DuckDB, so
even a 5-deep iterated float computation hash-matches the unrolled
recursive SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.barrier import filter_above
from ..functions.exact import dec9
from ..registry import Query
from ..staging import session_cached, stage
from ..tables import load

DAMPING = 0.85
N_ITER = 5


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric customer↔supplier edges from lineitem facts, staged to
    temp parquet ONCE per session (:func:`staging.session_cached` over
    :func:`staging.stage`, rebuilt if lineitem or orders change) — the
    loop consumes the edge relation every iteration, and a narrow
    re-derivation would re-join lineitem⋈orders ``N_ITER`` times (the
    same measured trade as ``_staged_shingle_sets``: staging beats both
    recompute and a persist() cache boundary). Node ids are prefixed
    strings so the bipartite sides share one id space."""

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        pairs = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
            )
            .distinct()
        )
        return pairs.select(
            F.col("cust").alias("src"), F.col("supp").alias("dst")
        ).union(
            pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )

    return session_cached(
        spark,
        sf_dir,
        ("lineitem", "orders"),
        ("graph_edges",),
        lambda: stage(build(), "kcm_graph_edges_"),
    )


def pagerank(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge relation (src, dst).

    Per iteration: rank/out-degree contributions flow along edges (one
    co-partitioned join on ``src``), are quantized to decimal(28,18),
    and SUM per ``dst`` (one partial-aggregated shuffle); the damped
    update is a scalar double tree. Every node here has out-edges (the
    builder symmetrizes), so no dangling-mass term. The driver only
    unrolls the loop — each pass is a distributed join+agg whose shuffle
    keys never change, so at 100 TB the per-iteration cost is two
    exchanges over |edges| and |nodes| rows; for many more iterations,
    checkpoint every few passes to cap plan depth."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # one scalar job; bounds every later literal
    if n_nodes == 0:
        # empty graph → empty rank relation (1/n is undefined); keeps a
        # filtered-to-empty edge source composable downstream
        return nodes.select("node", F.lit(0.0).alias("rank"))
    rank = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(n_iter):
        contribs = (
            edges.join(outdeg, "src")
            .join(rank, edges.src == rank.node)
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(28,18)")
                .alias("contrib"),
            )
        )
        inflow = contribs.groupBy("dst").agg(F.sum("contrib").alias("inflow"))
        rank = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING)
                    * F.coalesce(F.col("inflow").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return rank.select("node", F.round("rank", 9).alias("rank"))


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 5-iteration PageRank, customer↔supplier graph."""
    return pagerank(_edges(spark, sf_dir))


def _oracle_sql() -> str:
    """Unrolled fixed-iteration oracle mirroring the Spark loop exactly
    (same decimal quantization, same double expression tree)."""
    iters = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        iters.append(f"""
    inflow{i} AS (
        SELECT e.dst, SUM(CAST(({prev}.rank / outdeg.outdeg) AS DECIMAL(28,18))) AS s
        FROM edges e
        JOIN outdeg ON e.src = outdeg.src
        JOIN {prev} ON e.src = {prev}.node
        GROUP BY e.dst),
    r{i} AS (
        -- CAST(… AS DOUBLE) everywhere: DuckDB numeric literals are
        -- DECIMAL, and a decimal expression tree would diverge from
        -- Spark's IEEE doubles
        SELECT nodes.node,
               (CAST(1.0 AS DOUBLE) - {DAMPING}) / n.n_nodes
                   + {DAMPING} * COALESCE(CAST(inflow{i}.s AS DOUBLE),
                                          CAST(0.0 AS DOUBLE)) AS rank
        FROM nodes CROSS JOIN n
        LEFT JOIN inflow{i} ON nodes.node = inflow{i}.dst)""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cust,
                        's' || CAST(l_suppkey AS VARCHAR) AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL
        SELECT supp AS src, cust AS dst FROM pairs),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n_nodes AS rank
           FROM nodes CROSS JOIN n),{",".join(iters)}
    SELECT node, ROUND(rank, 9) AS rank FROM {prev}
"""


SQL_GRAPH_PAGERANK = _oracle_sql()


def wedge_triangles(edges: DataFrame) -> DataFrame:
    """All triangles x<y<z of a canonical (a<b) edge relation by the
    compact-forward enumeration — E(x,y)⋈E(y,z) wedges closed by E(x,z);
    each triangle produced exactly once. Shared by triangle counts,
    neighborhood-Jaccard, and Adamic-Adar (one enumeration to maintain:
    the degree-orientation refinement for power-law graphs lands HERE
    once, not in three copies).

    The closing edge join is hinted SHUFFLE_HASH (r15): the probe side
    is the WEDGE relation — |wedges| = Σ_y deg_lo(y)·deg_hi(y), 493M
    rows on the 10x-replicated scaling dataset vs 12M edges — and the
    default sort-merge plan sorted every wedge row before closing.
    Hashing the (small, equi-keyed) edge side leaves the wedge rows
    unsorted; at sf1 this halved the wedge-mode Jaccard on top of the
    single-enumeration fix below (39.0 → 19.2 s min-of-3, identical
    rows — plans/r15/ab_wedge_common.py). The build side is the edge
    relation itself, whose per-partition hash table shrinks with the
    shuffle partition count at any scale. The hint is unconditional, so
    ``spark.sql.autoBroadcastJoinThreshold`` no longer picks this join's
    strategy: an edge side small enough to broadcast is still shuffled
    and hashed, and a skewed partition of a huge edge relation builds
    its whole hash table in one task."""
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    e3 = edges.alias("e3").hint("shuffle_hash")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Per-node SORTED full-neighborhood arrays + degree — the
    edge-iterator representation: a pair scorer joins each edge against
    the two endpoint rows and intersects the arrays in place, replacing
    the 3-way wedge join's two extra shuffles with narrow array algebra
    (measured 7.6→5.3 s Jaccard / 9.0→5.7 Adamic-Adar at sf0.1 WITH the
    scorers' explicit broadcasts — the array column's size estimate
    exceeds the auto threshold, so unhinted plans degrade to slower
    shuffle joins at this scale). The REAL scale constraint is TOTAL
    broadcast payload O(|E|) ids, and the explicit hint bypasses the
    8 GB broadcast limit checks — so since round 5 the scorers only take
    this path when :func:`_adjacency_fits_broadcast` approves the
    payload, and degrade AUTOMATICALLY to the wedge-join formulation
    otherwise (VERDICT r4 item 2 / ADVICE r4)."""
    directed = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    return directed.groupBy("s").agg(
        F.sort_array(F.collect_list("d")).alias("nbrs"),
        F.count("*").alias("deg"),
    )


# --- pair-scorer path selection -------------------------------------------
#
# Estimated broadcast payload of the adjacency relation: each undirected
# edge contributes its two endpoint ids to the directed neighbor arrays;
# a bigint id inside an UnsafeArrayData element plus amortized per-row
# (node, deg, array header) overhead is ~20 bytes per entry → 40
# bytes/edge. Budget: ADJ_BROADCAST_FACTOR × the session's
# autoBroadcastJoinThreshold — the factor says "this hint is allowed to
# exceed the per-relation auto threshold, because the whole point of the
# edge-iterator design is broadcasting a relation Catalyst would
# size-estimate away, but only up to a bound that still fits executor
# memory comfortably" (default 10 MiB × 32 = 320 MiB, two orders of
# magnitude under Spark's 8 GiB broadcast hard cap; thresholds recorded
# in SCALING.md). Setting autoBroadcastJoinThreshold to -1 disables the
# broadcast path entirely — a user who turned broadcast joins off gets
# the shuffle-only wedge formulation, never a bypassing hint.
ADJ_BYTES_PER_EDGE = 40
ADJ_BROADCAST_FACTOR = 32


def _conf_bytes(val: str) -> int:
    """Parse a Spark size conf ('10485760', '10MB', '1g', '-1') to bytes."""
    s = val.strip().lower()
    mult = 1
    for suf, m in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    # multiply BEFORE truncating: '1.5g' is 1.5 GiB, not int('1.5')=1 GiB
    return int(float(s) * mult)


def _adjacency_fits_broadcast(edges: DataFrame) -> bool:
    """True when the O(|E|) adjacency payload fits the broadcast budget.

    One count job over the (session-staged parquet) edge relation —
    cheap metadata-ish scan; at cluster scale this is exactly the
    statistic a planner needs before choosing a broadcast strategy."""
    spark = edges.sparkSession
    thr = _conf_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    if thr <= 0:
        return False
    return edges.count() * ADJ_BYTES_PER_EDGE <= ADJ_BROADCAST_FACTOR * thr


def _edge_common_neighbors(edges: DataFrame) -> DataFrame:
    """(a, b, c) rows: canonical edge (a, b) with common neighbor c —
    the wedge-join formulation of per-edge common-neighbor listing.
    Each triangle x<y<z yields all three of its edges with the third
    corner as witness; exactly the relation the broadcast scorers
    derive via array_intersect, shuffle-only and hub-safe (the wedge
    fanout is bounded by the canonical orientation, and at 100 TB by
    degree orientation — see :func:`triangle_counts`).

    One explode over ONE tri subtree (r15): the previous spelling
    unionAll'd three projections of ``wedge_triangles(edges)``, and
    because each union branch projects different columns no
    ReusedExchange unifies them — the sf1 scaling plan contained THREE
    full copies of the triangle enumeration, each re-running the wedge
    join and exchanging+sorting its 493M wedge rows (the mechanism
    behind graph_jaccard's 3.05 s → 108.7 s superlinear step once
    |E| = 11.96M left the adjacency broadcast budget and the scorer
    degraded to this path). Exploding each triangle into its three
    (edge, witness) rows keeps a single subtree: 68.4 → 39.0 s at sf1
    before the closing-join hint, identical rows
    (plans/r15/ab_wedge_common.py)."""
    tri = wedge_triangles(edges)
    return tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c")
                ),
                F.struct(
                    F.col("y").alias("a"), F.col("z").alias("b"), F.col("x").alias("c")
                ),
                F.struct(
                    F.col("x").alias("a"), F.col("z").alias("b"), F.col("y").alias("c")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b", "e.c")


def sym_degrees(edges: DataFrame) -> DataFrame:
    """Node degrees of a canonical (a<b) undirected edge relation."""
    nbr = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    )
    return nbr.groupBy("node").agg(F.count("*").alias("d"))


# shared oracle fragments mirroring the two helpers
SQL_TRI_CTES = """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM li x JOIN li y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b)"""

SQL_DEG_CTE = """deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY node)"""


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts on an undirected graph given as canonical
    edges (a < b) — the classic compact-forward enumeration: every
    triangle x<y<z is produced exactly once by wedging E(x,y)⋈E(y,z) and
    closing with E(x,z), then each corner gets credit via one explode +
    count. Three equi-joins, all on edge-id columns, no cartesian
    anywhere; the canonical orientation is what bounds the wedge fanout
    (only higher neighbors extend a path). At 100 TB the published
    refinement is to orient edges by DEGREE instead of id
    (low-degree → high-degree), which caps per-task wedge counts on
    power-law graphs — same plan shape, different orientation key.
    """
    tri = wedge_triangles(edges)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_triangles"))
    )


def part_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) undirected edges of the part co-occurrence graph:
    parts appearing in the same order are connected — the "frequently
    bought together" relation. One self-equi-join on the order key; the
    per-order fanout is bounded by order size (TPC-H ≤ 7 lines), so the
    edge relation is O(|lineitem|), not quadratic in parts.

    Staged to temp parquet like :func:`_edges` and cached for the
    SESSION (:func:`staging.session_cached`): every consumer (triangles
    references edges 3×, neighbor-Jaccard 4×) would otherwise re-run the
    lineitem self-join per reference — measured 31 exchanges in the
    un-staged Jaccard plan vs 7 staged, with no runtime ReusedExchange
    unification across the differently-shaped join subtrees — and the
    seven graph-family queries would each re-derive the identical
    relation. The staged write is one derivation per session and
    lineitem version; readers get file stats + pruning."""

    def build() -> DataFrame:
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        x, y = li.alias("x"), li.alias("y")
        return (
            x.join(
                y,
                (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                & (F.col("x.l_partkey") < F.col("y.l_partkey")),
            )
            .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
            .distinct()
        )

    return session_cached(
        spark,
        sf_dir,
        ("lineitem",),
        ("cooc_edges",),
        lambda: stage(build(), "kcm_cooc_edges_"),
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: triangle counts on the part co-occurrence graph
    (a triangle is a stable product bundle)."""
    return triangle_counts(part_cooccurrence_edges(spark, sf_dir))


SQL_GRAPH_TRIANGLES = f"""
    WITH {SQL_TRI_CTES},
    corners AS (SELECT UNNEST([x, y, z]) AS p_partkey FROM tri)
    SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY p_partkey
"""


JACCARD_TOP_K = 100


def edge_jaccard_topk(
    edges: DataFrame, k: int = JACCARD_TOP_K, mode: str = "auto"
) -> DataFrame:
    """Top-k EDGES by neighborhood Jaccard — tie strength / embeddedness
    of each relationship (the "how much of our worlds overlap" score
    behind strong-tie detection and link weighting). For an edge (u, v),
    J = |N(u)∩N(v)| / |N(u)∪N(v)| where the intersection count is the
    number of triangles through the edge.

    Scale shape: an earlier all-pairs formulation (wedge self-join over
    EVERY pair sharing a neighbor) was measured generating hundreds of
    millions of wedge rows already at sf0.1 — Σ_w C(deg(w), 2) is
    quadratic in hub degree and not a 100 TB plan. Candidates are the
    ADJACENT pairs (|E|). Path selection (``mode``):

    - ``"broadcast"`` — the EDGE-ITERATOR design: broadcast per-node
      sorted adjacency arrays onto both endpoints and intersect in place
      (measured ~20% over the 3-way wedge join it replaced — two fewer
      shuffles).
    - ``"wedge"`` — shuffle-only: per-edge common-neighbor counts from
      the compact-forward triangle enumeration + two degree joins. No
      broadcast anywhere; survives graphs whose edge multiset outgrows
      executor memory.
    - ``"auto"`` (default) — broadcast iff
      :func:`_adjacency_fits_broadcast` approves the O(|E|) payload
      against the session broadcast budget; wedge otherwise. Both paths
      produce bit-identical rows (integer counts, one double division,
      same rounding; proven equal at sf0.01 in tests/test_graph.py).

    Top-k is orderBy+limit — TakeOrdered per-partition heaps, no global
    sort; ids break score ties deterministically. Edges on no triangle
    never surface (n_common = 0 filtered / never generated).
    """
    if mode not in ("auto", "broadcast", "wedge"):
        raise ValueError(f"unknown pair-scorer mode {mode!r}")
    if mode == "auto":
        mode = "broadcast" if _adjacency_fits_broadcast(edges) else "wedge"
    if mode == "wedge":
        common = (
            _edge_common_neighbors(edges)
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
        deg = sym_degrees(edges)
        scored = common.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a"
        ).join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    else:
        adj = _adjacency(edges)
        scored = (
            edges.join(
                F.broadcast(
                    adj.select(
                        F.col("s").alias("a"),
                        F.col("nbrs").alias("na"),
                        F.col("deg").alias("da"),
                    )
                ),
                "a",
            )
            .join(
                F.broadcast(
                    adj.select(
                        F.col("s").alias("b"),
                        F.col("nbrs").alias("nb"),
                        F.col("deg").alias("db"),
                    )
                ),
                "b",
            )
            .select(
                "a",
                "b",
                "da",
                "db",
                F.size(F.array_intersect("na", "nb")).cast("long").alias("n_common"),
            )
        )
        # n_common > 0 above the projection, not in the join condition:
        # pushed down, the predicate duplicates the array intersection
        # into the BroadcastHashJoin condition, so every edge pays the
        # O(da + db) hash intersection twice (functions/barrier.py;
        # r14 measured on graph_jaccard at sf0.1)
        scored = filter_above(scored, F.col("n_common") > 0)
    return (
        scored.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(
                F.col("n_common") / (F.col("da") + F.col("db") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(k)
    )


def edge_adamic_adar_topk(edges: DataFrame, mode: str = "auto") -> DataFrame:
    """Top-k edges by Adamic-Adar — the link-prediction staple that
    weights each common neighbor by 1/ln(degree), so sharing a RARE
    neighbor counts far more than sharing a hub (neighborhood Jaccard's
    blind spot on graphs with popular nodes).

    Same scale shape and path selection as :func:`edge_jaccard_topk`:
    candidates are the adjacent pairs (|E|, never the quadratic
    all-pairs fanout). ``"broadcast"`` intersects broadcast adjacency
    arrays per edge, explodes the common-neighbor LIST, and joins each
    neighbor's 1/ln(deg) weight from the same adjacency relation;
    ``"wedge"`` derives the identical (edge, witness) relation
    shuffle-only from the triangle enumeration and joins
    :func:`sym_degrees`; ``"auto"`` picks by the
    :func:`_adjacency_fits_broadcast` budget. The weights are float, so
    they're pre-rounded to 9 decimals and summed as exact decimals —
    order-free addition, the entropy/zipf portability rule, which is
    also what makes the two paths (different row orders) bit-identical —
    before one rounded close. Top-k is TakeOrdered; ids break score
    ties.
    """
    if mode not in ("auto", "broadcast", "wedge"):
        raise ValueError(f"unknown pair-scorer mode {mode!r}")
    if mode == "auto":
        mode = "broadcast" if _adjacency_fits_broadcast(edges) else "wedge"
    term = dec9(F.lit(1.0) / F.log(F.col("d").cast("double")))
    if mode == "wedge":
        deg = sym_degrees(edges)
        weighted = _edge_common_neighbors(edges).join(
            deg.select(F.col("node").alias("c"), "d"), "c"
        )
    else:
        adj = _adjacency(edges)
        common = (
            edges.join(
                F.broadcast(
                    adj.select(F.col("s").alias("a"), F.col("nbrs").alias("na"))
                ),
                "a",
            )
            .join(
                F.broadcast(
                    adj.select(F.col("s").alias("b"), F.col("nbrs").alias("nb"))
                ),
                "b",
            )
            .select("a", "b", F.explode(F.array_intersect("na", "nb")).alias("c"))
        )
        # the adjacency relation already carries each node's degree —
        # reuse it for the common-neighbor weight instead of a second
        # sym_degrees union+groupBy over the edge relation
        weighted = common.join(
            F.broadcast(adj.select(F.col("s").alias("c"), F.col("deg").alias("d"))),
            "c",
        )
    return (
        weighted.select("a", "b", term.alias("t"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"), F.sum("t").alias("aa_sum"))
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(F.col("aa_sum").cast("double"), 6).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "u", "v")
        .limit(JACCARD_TOP_K)
    )


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: the 100 strongest co-purchase ties by
    rare-neighbor-weighted Adamic-Adar on the part co-occurrence graph."""
    return edge_adamic_adar_topk(part_cooccurrence_edges(spark, sf_dir))


SQL_GRAPH_ADAMIC_ADAR = f"""
    WITH {SQL_TRI_CTES},
    wedges AS (
        SELECT x AS a, y AS b, z AS c FROM tri
        UNION ALL SELECT y, z, x FROM tri
        UNION ALL SELECT x, z, y FROM tri),
    {SQL_DEG_CTE}
    SELECT w.a AS u, w.b AS v,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           ROUND(CAST(SUM(CAST(ROUND(1.0 / LN(CAST(dc.d AS DOUBLE)), 9)
                               AS DECIMAL(18,9))) AS DOUBLE), 6) AS adamic_adar
    FROM wedges w JOIN deg dc ON dc.node = w.c
    GROUP BY w.a, w.b
    ORDER BY adamic_adar DESC, u, v
    LIMIT {JACCARD_TOP_K}
"""


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient C(v) = 2·T(v)/(d(v)·(d(v)−1))
    — how much of each node's neighborhood is itself connected; with
    degree stats and assortativity this completes the standard topology
    card (high C + short paths = small-world; C≈0 = tree/bipartite-ish).

    Pure composition of the shared helpers: triangle counts from the
    compact-forward enumeration, degrees from the symmetrized relation,
    one left join (triangle-free nodes score 0). The ratio is an exact
    integer rational closed in one rounded double; degree-1 nodes are
    NULL (undefined neighborhood). Costs nothing beyond the triangle
    pass at any scale.
    """
    tri = wedge_triangles(edges)
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = sym_degrees(edges)
    d = F.col("d").cast("double")
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0) * F.coalesce("n_tri", F.lit(0)).cast("double")
                    / (d * (d - F.lit(1.0))),
                    6,
                ),
            ).alias("clustering"),
        )
    )


def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: clustering coefficients on the co-occurrence
    graph."""
    return clustering_coefficients(part_cooccurrence_edges(spark, sf_dir))


SQL_GRAPH_CLUSTERING = f"""
    WITH {SQL_TRI_CTES},
    per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT UNNEST([x, y, z]) AS node FROM tri)
        GROUP BY node),
    {SQL_DEG_CTE}
    SELECT d.node, d.d,
           CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.d >= 2
                THEN ROUND(2.0 * CAST(COALESCE(p.n_tri, 0) AS DOUBLE)
                           / (CAST(d.d AS DOUBLE)
                              * (CAST(d.d AS DOUBLE) - 1.0)), 6)
           END AS clustering
    FROM deg d LEFT JOIN per_node p USING (node)
"""


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: the 100 strongest co-purchase ties (per-edge
    neighborhood Jaccard) on the part co-occurrence graph."""
    return edge_jaccard_topk(part_cooccurrence_edges(spark, sf_dir))


SQL_GRAPH_JACCARD = f"""
    WITH {SQL_TRI_CTES},
    per_edge AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
            SELECT x AS a, y AS b FROM tri
            UNION ALL SELECT y, z FROM tri
            UNION ALL SELECT x, z FROM tri
        ) GROUP BY a, b),
    {SQL_DEG_CTE}
    SELECT a AS u, b AS v, n_common,
           ROUND(n_common * 1.0 / (da.d + db.d - n_common), 6) AS jaccard
    FROM per_edge
    JOIN deg da ON da.node = a
    JOIN deg db ON db.node = b
    ORDER BY jaccard DESC, u, v
    LIMIT {JACCARD_TOP_K}
"""


KHOP_ROUNDS = 3
KHOP_SEEDS = ("c1", "c2", "c3")


def k_hop_distances(edges: DataFrame, seeds: DataFrame, k: int = KHOP_ROUNDS) -> DataFrame:
    """Multi-source BFS distances up to ``k`` hops — the reachability /
    blast-radius primitive (fraud rings, dependency fallout, influence
    neighborhoods). Round ``i`` expands the ``dist = i-1`` frontier along
    edges (one co-partitioned join) and folds it into the label relation
    with a min-dist groupBy; the loop is driver-unrolled but every pass
    is fully distributed, the same shape as :func:`pagerank`. ``k`` is a
    small constant so lineage stays shallow (no checkpointing needed; the
    unbounded-k variant is :func:`connected_components_ls`' territory).
    At 100 TB both the join and the groupBy hash on the node id — the
    frontier relation is the only thing that grows, bounded by |V|.
    """
    dist = seeds.select("node", F.lit(0).alias("dist"))
    for i in range(1, k + 1):
        frontier = (
            edges.join(
                dist.filter(F.col("dist") == i - 1).select(
                    F.col("node").alias("src")
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), F.lit(i).alias("dist"))
        )
        dist = dist.union(frontier).groupBy("node").agg(F.min("dist").alias("dist"))
    return dist


def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: BFS distances within 3 hops of customers 1-3 on
    the customer↔supplier graph."""
    edges = _edges(spark, sf_dir)
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node").isin(*KHOP_SEEDS)
    )
    return k_hop_distances(edges, seeds)


def _khop_sql() -> str:
    seed_in = ", ".join(f"'{s}'" for s in KHOP_SEEDS)
    rounds = []
    prev = "d0"
    for i in range(1, KHOP_ROUNDS + 1):
        rounds.append(f"""
    d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, {i} AS dist
            FROM edges e JOIN {prev} p ON e.src = p.node AND p.dist = {i - 1}
        ) GROUP BY node)""")
        prev = f"d{i}"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cust,
                        's' || CAST(l_suppkey AS VARCHAR) AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
        SELECT cust AS src, supp AS dst FROM pairs
        UNION ALL
        SELECT supp AS src, cust AS dst FROM pairs),
    d0 AS (
        SELECT DISTINCT src AS node, 0 AS dist FROM edges
        WHERE src IN ({seed_in})),{",".join(rounds)}
    SELECT node, dist FROM {prev}
"""


SQL_GRAPH_KHOP = _khop_sql()


SQL_COOC_EDGES_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM li x JOIN li y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
    directed AS (
        SELECT a AS s, b AS d FROM edges
        UNION ALL
        SELECT b AS s, a AS d FROM edges)
"""


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row topology card for the co-occurrence graph: node/edge
    counts, degree extremes, and Newman degree assortativity (do hubs
    connect to hubs?) — the first numbers a graph audit reports.

    Degrees come from one groupBy over the symmetrized edge list;
    assortativity is plain Pearson over the directed (deg(s), deg(d))
    pairs — symmetrization makes that algebraically identical to
    Newman's undirected r. Both endpoint-degree joins are co-partitioned
    on the node id (broadcast at test scale); every sum is exact integer
    arithmetic (degrees are ints), the closing expression one IEEE
    double tree. Scales as two hash aggregations + two equi-joins over
    |E| rows — no quadratic structure anywhere.
    """
    edges = part_cooccurrence_edges(spark, sf_dir)
    directed = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = directed.groupBy("s").agg(F.count("*").alias("deg"))
    deg_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        F.sum("deg").alias("sum_deg"),
    )
    pairs = (
        directed.join(deg.select(F.col("s"), F.col("deg").alias("deg_s")), "s")
        .join(
            deg.select(F.col("s").alias("d"), F.col("deg").alias("deg_d")),
            "d",
        )
    )
    mom = pairs.agg(
        F.count("*").alias("m2"),  # 2|E|
        F.sum("deg_s").alias("sx"),
        F.sum("deg_d").alias("sy"),
        F.sum(F.col("deg_s") * F.col("deg_d")).alias("sxy"),
        F.sum(F.col("deg_s") * F.col("deg_s")).alias("sxx"),
        F.sum(F.col("deg_d") * F.col("deg_d")).alias("syy"),
    )
    n = F.col("m2").cast("double")
    denom = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    # regular graph → zero degree variance: CASE-guard (ANSI /0 errors)
    assort = F.when(denom != 0.0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom)
    return (
        deg_stats.crossJoin(F.broadcast(mom))  # two 1-row aggregates
        .select(
            "n_nodes",
            (F.col("m2") / 2).cast("bigint").alias("n_edges"),
            "max_degree",
            F.round(F.col("sum_deg") / F.col("n_nodes"), 6).alias("mean_degree"),
            F.round(assort, 6).alias("assortativity"),
        )
    )


SQL_GRAPH_DEGREE_STATS = f"""
    WITH {SQL_COOC_EDGES_CTE},
    deg AS (SELECT s, COUNT(*) AS deg FROM directed GROUP BY s),
    ds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(deg) AS BIGINT) AS max_degree,
               SUM(deg) AS sum_deg
        FROM deg),
    mom AS (
        SELECT COUNT(*) AS m2,
               SUM(a.deg) AS sx, SUM(b.deg) AS sy,
               SUM(a.deg * b.deg) AS sxy,
               SUM(a.deg * a.deg) AS sxx,
               SUM(b.deg * b.deg) AS syy
        FROM directed e JOIN deg a ON e.s = a.s JOIN deg b ON e.d = b.s)
    SELECT ds.n_nodes,
           CAST(mom.m2 / 2 AS BIGINT) AS n_edges,
           ds.max_degree,
           ROUND(ds.sum_deg * 1.0 / ds.n_nodes, 6) AS mean_degree,
           ROUND((CAST(mom.m2 AS DOUBLE) * sxy - sx * sy)
                 / NULLIF(SQRT(CAST(mom.m2 AS DOUBLE) * sxx - sx * sx)
                          * SQRT(CAST(mom.m2 AS DOUBLE) * syy - sy * sy), 0), 6)
               AS assortativity
    FROM ds, mom
"""


LPA_ROUNDS = 3


def label_propagation(edges: DataFrame) -> DataFrame:
    """Deterministic synchronous label propagation: every node starts
    labeled with its own id; each round it adopts the most frequent
    label among its neighbors, ties broken by smallest label. Fixed
    round count, driver-unrolled — community detection where connected
    components is too coarse (CC merges everything touching; LPA splits
    a component along its dense cores).

    Per round: one co-partitioned edges⨝labels join, one (node, label)
    count aggregation, one per-node argmax window — all hashed on the
    node id, each round's relation exactly |V| rows. The textbook
    async/random-order LPA is nondeterministic by design; the
    synchronous min-tie variant trades some convergence speed for
    rerun- and engine-exact results (the DuckDB oracle unrolls the
    identical rounds).
    """
    directed = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    labels = directed.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        counts = (
            directed.join(
                labels.select(F.col("node").alias("d"), "label"), "d"
            )
            .groupBy(F.col("s").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("cnt").desc(), F.col("label").asc()
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: 3-round LPA communities on the co-occurrence
    graph."""
    return label_propagation(part_cooccurrence_edges(spark, sf_dir))


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
    c{i} AS (
        SELECT e.s AS node, l.label, COUNT(*) AS cnt
        FROM directed e JOIN {prev} l ON e.d = l.node
        GROUP BY e.s, l.label),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
    WITH {SQL_COOC_EDGES_CTE},
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM directed),{",".join(rounds)}
    SELECT node, CAST(label AS BIGINT) AS community FROM {prev}
"""


SQL_GRAPH_LPA = _lpa_sql()


KCORE_K = 65
KCORE_MAX_ROUNDS = 15
KCORE_ORACLE_ROUNDS = 6  # oracle unrolls this many no-op-padded peels


def kcore(
    edges: DataFrame,
    k: int = KCORE_K,
    oracle_rounds: int | None = None,
) -> DataFrame:
    """The k-core of the graph — the maximal subgraph where every node
    keeps ≥ k neighbors INSIDE the subgraph — by iterative peeling:
    drop all nodes of degree < k, recompute degrees, repeat to
    fixpoint. The dense-nucleus extractor (spam rings, product bundles,
    collaboration cores) that a plain degree filter gets wrong because
    removals cascade.

    Per round: the survivor set restricts both edge endpoints (two
    co-partitioned hash joins on the node key) and one partial-
    aggregated degree count — every relation ≤ |V| rows, all hashed on
    the same key. The driver loop sees only a count per round (peeling
    never adds nodes, so an unchanged count IS the set fixpoint);
    per-round ``localCheckpoint`` keeps lineage O(1) (``unpersist()``
    does not free checkpointed blocks; the ContextCleaner does once a
    round's relation is unreferenced).
    Rounds = peel-cascade depth (measured ≤ 4 on this graph family at
    sf0.001-0.1); the cap raises LOUDLY — a truncated peel is a
    superset of the core, never returned silently. The oracle unrolls
    ``KCORE_ORACLE_ROUNDS`` fixed rounds (extra rounds are no-ops at
    the fixpoint), so convergence is also asserted ≤ that unroll.
    """
    directed = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).localCheckpoint(eager=True)
    # round 0 short-cut: restricting against the all-nodes set is a
    # no-op, so the seed degrees come straight off the edge relation
    # (one agg, no joins); and the loop carries (node, deg) so the
    # fixpoint round's degree relation IS the final answer (the closing
    # "re-derive in-core degrees" pass would recompute it identically).
    # Checkpoints are EAGER (r15): r14 made them lazy with the
    # convergence count() as the materializing action (1 scheduled job
    # per round instead of 2), but the driver's r14 artifact regressed
    # kcore ×0.67 and a same-session interleaved min-of-8 A/B on a
    # healthy box confirmed it — eager 2.182 s vs lazy 2.942 s, eager
    # faster in 8/8 passes (plans/r15/ab_item2.py). The count on an
    # eagerly checkpointed relation is a near-free job over cached
    # blocks; the lazy variant makes the materializing count job carry
    # the full round computation in one scheduler wave, which measures
    # consistently WORSE here. Reverted per VERDICT r14 item 2.
    degrees = directed.groupBy("s").agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    prev = degrees.count()
    rounds = 0
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        alive = degrees.filter(F.col("deg") >= k).select(
            F.col("s").alias("node")
        )
        new_degrees = (
            directed.join(alive.withColumnRenamed("node", "s"), "s")
            .join(alive.withColumnRenamed("node", "d"), "d")
            .groupBy("s")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
        ).localCheckpoint(eager=True)
        cur = new_degrees.count()
        degrees = new_degrees
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"kcore did not reach a fixpoint within {KCORE_MAX_ROUNDS} rounds"
        )
    if oracle_rounds is not None and rounds > oracle_rounds:
        raise RuntimeError(
            f"kcore needed {rounds} rounds but the oracle unrolls only"
            f" {oracle_rounds} — raise KCORE_ORACLE_ROUNDS"
        )
    return degrees.select(
        F.col("s").alias("node"), F.col("deg").alias("core_degree")
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: the 65-core of the part co-occurrence graph
    with each member's in-core degree. The oracle-unroll guard applies
    only here — the registry pairing is what fixes the round budget."""
    return kcore(
        part_cooccurrence_edges(spark, sf_dir),
        oracle_rounds=KCORE_ORACLE_ROUNDS,
    )


def _kcore_sql() -> str:
    # every a{i} is referenced TWICE by a{i+1} (both edge endpoints), so
    # the CTEs must be MATERIALIZED: DuckDB inlines plain CTEs, which
    # doubles the expression tree per unrolled round — 2^rounds copies of
    # the base scan (measured: >600 s inlined vs 0.45 s materialized at
    # sf0.01). The LPA unroll doesn't need this (one reference per round).
    rounds = []
    prev = "a0"
    for i in range(1, KCORE_ORACLE_ROUNDS + 1):
        rounds.append(f"""
    a{i} AS MATERIALIZED (
        SELECT e.s AS node FROM dmat e
        JOIN {prev} x ON e.s = x.node
        JOIN {prev} y ON e.d = y.node
        GROUP BY e.s HAVING COUNT(*) >= {KCORE_K})""")
        prev = f"a{i}"
    return f"""
    WITH {SQL_COOC_EDGES_CTE},
    dmat AS MATERIALIZED (SELECT s, d FROM directed),
    a0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM dmat),{",".join(rounds)}
    SELECT e.s AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM dmat e
    JOIN {prev} x ON e.s = x.node
    JOIN {prev} y ON e.d = y.node
    GROUP BY e.s
"""


SQL_GRAPH_KCORE = _kcore_sql()


HITS_ITER = 3


def hits(directed: DataFrame) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) on a directed edge relation
    (src, dst): hubs point at good authorities, authorities are pointed
    at by good hubs. Returns (node, role, score) with role ∈
    {{'hub', 'authority'}}, scores L1-normalized per side (the norm
    choice rescales, never reranks — Kleinberg's L2 is the textbook
    pick, but an L1 total is an exact decimal sum, which is what makes
    the whole loop cross-engine hash-checkable).

    Scale shape: each half-round is ONE join of edges against the
    node-sized score relation plus one partial-aggregated groupBy — the
    same two-exchange pattern as :func:`pagerank`, keys fixed across
    rounds. The L1 total rides a GLOBAL window sum over the node-sized
    aggregate output — one extra single-partition pass over |nodes|
    rows, chosen deliberately: a one-row total consumed via crossJoin
    would give the round relation two consumers and re-evaluate the
    whole lineage per round (measured 9.1 s → 2.2 s warm at sf0.01),
    while the window keeps the unrolled loop ONE lazy linear plan,
    pagerank-style.
    At 100 TB the single-partition pass is |nodes| pre-aggregated rows
    (two columns), not edges — if even that is too wide, the documented
    alternative is a localCheckpoint per half-round + broadcast scalar.
    Exactness: contributions are dec9-quantized before every sum
    (order-free decimals), totals are exact decimal window sums, and
    each normalization is one IEEE double division shared verbatim with
    the oracle."""
    hub = directed.select(F.col("src").alias("node")).distinct().withColumn(
        "score", F.lit(1.0)
    )
    w_all = Window.partitionBy()

    def _half(scores: DataFrame, key: str, out: str) -> DataFrame:
        raw = (
            directed.join(scores, directed[key] == scores.node)
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum(dec9(F.col("score"), 28)).alias("s"))
        )
        return raw.select(
            "node",
            (
                F.col("s").cast("double")
                / F.sum("s").over(w_all).cast("double")
            ).alias("score"),
        )

    for _ in range(HITS_ITER):
        auth = _half(hub, "src", "dst")
        hub = _half(auth, "dst", "src")
    return hub.select(
        "node", F.lit("hub").alias("role"), F.round("score", 9).alias("score")
    ).unionByName(
        auth.select(
            "node",
            F.lit("authority").alias("role"),
            F.round("score", 9).alias("score"),
        )
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: HITS on the customer→supplier purchase graph
    (the 'c'-prefixed half of the staged symmetric edge relation — the
    bipartite direction, so hubs are customers and authorities are
    suppliers)."""
    e = _edges(spark, sf_dir).filter(F.col("src").startswith("c"))
    return hits(e)


def _hits_sql() -> str:
    """Unrolled fixed-iteration oracle mirroring the Spark loop. Each
    raw half-round CTE is referenced twice (its L1 total and its
    normalization), so they are AS MATERIALIZED — DuckDB would
    otherwise inline and re-evaluate the chain exponentially (the CTE
    double-reference blowup). The ``edges`` base CTE is MATERIALIZED
    too: it is referenced 2·HITS_ITER times, and inlining would
    re-evaluate the lineitem⨝orders DISTINCT once per reference —
    linear, not exponential, but the same waste (ADVICE r9)."""
    rounds = []
    prev_hub = "h0"
    for i in range(1, HITS_ITER + 1):
        rounds.append(f"""
    araw{i} AS MATERIALIZED (
        SELECT e.dst AS node,
               SUM(CAST(ROUND(s.score, 9) AS DECIMAL(28,9))) AS s
        FROM edges e JOIN {prev_hub} s ON e.src = s.node
        GROUP BY e.dst),
    a{i} AS (
        SELECT node, CAST(s AS DOUBLE)
               / CAST((SELECT SUM(s) FROM araw{i}) AS DOUBLE) AS score
        FROM araw{i}),
    hraw{i} AS MATERIALIZED (
        SELECT e.src AS node,
               SUM(CAST(ROUND(s.score, 9) AS DECIMAL(28,9))) AS s
        FROM edges e JOIN a{i} s ON e.dst = s.node
        GROUP BY e.src),
    h{i} AS (
        SELECT node, CAST(s AS DOUBLE)
               / CAST((SELECT SUM(s) FROM hraw{i}) AS DOUBLE) AS score
        FROM hraw{i})""")
        prev_hub = f"h{i}"
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS score
           FROM edges),{",".join(rounds)}
    SELECT node, 'hub' AS role, ROUND(score, 9) AS score
    FROM h{HITS_ITER}
    UNION ALL
    SELECT node, 'authority' AS role, ROUND(score, 9) AS score
    FROM a{HITS_ITER}
"""


SQL_GRAPH_HITS = _hits_sql()


WCC_ORACLE_ROUNDS = 5  # oracle unrolls this many no-op-padded rounds


def connected_components(edges: DataFrame, canonical: bool = False) -> DataFrame:
    """Weakly-connected components of an (a, b) edge relation: every
    node labeled with its component's minimum id, plus the component's
    size. Returns (node, component, component_size).

    The labels come from the large-star/small-star loop
    (``dedup.connected_components_ls``), which fixpoints in O(log n)
    rounds regardless of graph DIAMETER. ``canonical=True`` is the
    caller's promise that a < b with distinct rows (skips the normalize
    exchange). Component sizes ride one label-keyed window over the
    final node-sized relation.
    """
    from .dedup import connected_components_ls

    labels = connected_components_ls(
        edges, src="a", dst="b", canonical=canonical
    )
    w = Window.partitionBy("component")
    return labels.select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").alias("component"),
    ).withColumn("component_size", F.count("*").over(w))


def q_graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding: weakly-connected components of the part
    co-occurrence graph (one giant component on the TPC-H-ish corpus —
    the multi-component arms are pinned by the hand-built fixture in
    tests/test_graph.py). Both engines compute component = min node id:
    Spark with the log-rounds loop, the oracle with a
    WCC_ORACLE_ROUNDS-unrolled min-label propagation; tests/test_graph.py
    checks the unroll covers every graded graph's depth.
    """
    # the staged co-occurrence edges are canonical by construction
    # (a < b, distinct) — skip the normalize pass + its exchange
    return connected_components(
        part_cooccurrence_edges(spark, sf_dir), canonical=True
    )


def _wcc_sql() -> str:
    """Unrolled fixed-round min-label oracle. Every round CTE is
    referenced twice (the neighbor join and the keep-own-label arm) and
    the symmetrized edge relation once per round — all AS MATERIALIZED
    against DuckDB's inline-per-reference re-evaluation (the CTE
    blowup, ADVICE r9 / probe-sweep precedent)."""
    rounds = []
    prev = "l0"
    for i in range(1, WCC_ORACLE_ROUNDS + 1):
        rounds.append(f"""
    l{i} AS MATERIALIZED (
        SELECT l.node,
               LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
        FROM {prev} l
        LEFT JOIN dir2 e ON e.s = l.node
        LEFT JOIN {prev} nl ON nl.node = e.d
        GROUP BY l.node, l.label)""")
        prev = f"l{i}"
    return f"""
    WITH {SQL_COOC_EDGES_CTE},
    dir2 AS MATERIALIZED (SELECT s, d FROM directed),
    l0 AS MATERIALIZED (
        SELECT DISTINCT s AS node, s AS label FROM dir2),{",".join(rounds)},
    sizes AS (SELECT label, COUNT(*) AS csize FROM {prev} GROUP BY label)
    SELECT node, CAST(l.label AS BIGINT) AS component,
           CAST(csize AS BIGINT) AS component_size
    FROM {prev} l JOIN sizes s ON l.label = s.label
"""


SQL_GRAPH_WCC = _wcc_sql()


QUERIES = {
    "graph_wcc": Query(q_graph_wcc, SQL_GRAPH_WCC),
    "graph_hits": Query(q_graph_hits, SQL_GRAPH_HITS),
    "graph_kcore": Query(q_graph_kcore, SQL_GRAPH_KCORE),
    "graph_pagerank": Query(q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "graph_triangles": Query(q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_jaccard": Query(q_graph_jaccard, SQL_GRAPH_JACCARD),
    "graph_adamic_adar": Query(q_graph_adamic_adar, SQL_GRAPH_ADAMIC_ADAR),
    "graph_clustering": Query(q_graph_clustering, SQL_GRAPH_CLUSTERING),
    "graph_khop": Query(q_graph_khop, SQL_GRAPH_KHOP),
    "graph_degree_stats": Query(q_graph_degree_stats, SQL_GRAPH_DEGREE_STATS),
    "graph_lpa": Query(q_graph_lpa, SQL_GRAPH_LPA),
}
