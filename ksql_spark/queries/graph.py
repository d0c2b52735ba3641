"""SURVEY.md §2.L — graph search.

AlaSQL 0.3's graph SEARCH operator is unused by the reference (SURVEY §2.L)
but part of the delegated surface; the Spark-native mapping is iterative
frontier expansion over DataFrame joins (the standard BFS / connected-
components pattern — each level is one join + min re-aggregation in
min_relax, state stays distributed).

Oracle: DuckDB WITH RECURSIVE over the same adjacency — an exact, fully
SQL-expressible check for an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ksql_spark.operators.scale import fan_parts, is_pinned, pin, pin_invariant
from ksql_spark.registry import query
from ksql_spark.tables import load

_MAX_DEPTH = 3
_START = 0  # BFS root supplier


def coship_pairs(li: DataFrame) -> DataFrame:
    """Distinct (supplier, part) incidence pairs — the base every co-ship
    graph entry builds from (oracles spell the same `SELECT DISTINCT`)."""
    return li.select(
        F.col("l_suppkey").alias("s1"), F.col("l_partkey").alias("p")
    ).distinct()


def coship_adj(
    li: DataFrame, exclude_self: bool = True, checkpoint: bool = False
) -> DataFrame:
    """Undirected supplier co-ship adjacency (s1, s2): suppliers sharing at
    least one part. THE one definition of the edge build (previously
    hand-copied per entry, where the copies had already drifted on the
    self-loop filter): incidence pairs self-joined on the part.
    `exclude_self` drops s1 == s2 loops (BFS/CC keep them — harmless there
    and part of their oracles' spelling); `checkpoint` materializes the
    edge list once for iterative consumers — without it, lineage re-runs
    the |lineitem| self-join per iteration (the measured-minutes-at-sf0.1
    PageRank regression)."""
    # Explosion-width pin (r14, guide §2.2): the incidence table is ~100k
    # rows / a few MB at sf0.1, so AQE coalesces the self-join's exchanges
    # to 1 partition and the Σ_p cnt(p)² ≈ 18M output rows (plus the
    # distinct's partial aggregate) are produced by a single task. The
    # explicit width replaces the exchange the join inserts anyway.
    n = fan_parts(li.sparkSession)
    a = coship_pairs(li).repartition(n, "p")
    b = a.select(F.col("s1").alias("s2"), "p")
    # r14 unordered-mirror build (guide §2.3 "shuffle fewer bytes"): the
    # adjacency is symmetric, so enumerating only s1 <(=) s2 halves the
    # Σ_p cnt(p)² join output flowing into the distinct's exchange (18M →
    # 9M rows at sf0.1; isolated build A/B 3.7 → 3.4 s, and the byte
    # halving compounds at scale where that exchange dominates) and the
    # mirror is a single-pass explode over the deduped half — a Generate,
    # not a union, so the half subtree is never duplicated in the plan.
    # Self-loops (kept when exclude_self=False — the s1 <= s2 branch)
    # appear once unordered and are not mirrored. Row set identical to
    # the old s1 != s2 spelling (probe: exceptAll both ways = 0/0).
    cmp_op = (
        (F.col("s1") < F.col("s2"))
        if exclude_self
        else (F.col("s1") <= F.col("s2"))
    )
    half = a.join(b, "p").where(cmp_op).select("s1", "s2").distinct()
    st = F.struct(F.col("s1"), F.col("s2"))
    sw = F.struct(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
    both = (
        F.array(st, sw)
        if exclude_self
        else F.when(F.col("s1") == F.col("s2"), F.array(st)).otherwise(
            F.array(st, sw)
        )
    )
    adj = half.select(F.explode(both).alias("e")).select("e.s1", "e.s2")
    # lazy materialization (VERDICT r11): the first consuming action
    # computes the edge list ONCE and persists it; every later iteration
    # job reuses the checkpointed RDD — build time stays job-free.
    #
    # r14 session 2: the pinned layout is repartitioned by the iteration
    # join key to the session's parallelism BEFORE the pin (the
    # connected_components precedent, a4f294b). The distinct's output is
    # AQE-coalesced to ~1 partition (a 999k-row edge list is only ~16 MB
    # of map output), so every iterative consumer's relax join — and with
    # the broadcast-state device the WHOLE relax+partial-agg pipeline,
    # which no longer has its own exchange to re-spread it — ran
    # single-task over the pinned RDD. One extra |E|-row exchange at
    # build time buys n-way round execution (interleaved A/B on the
    # landmark rounds: broadcast-over-1-partition 17-22 s vs
    # broadcast-over-fanned 10.4-10.6 s entry total).
    if not checkpoint:
        return adj
    return pin_invariant(
        adj.repartition(fan_parts(li.sparkSession), "s1")
    )


def min_relax(
    seeds: DataFrame,
    adj: DataFrame,
    keys: list[str],
    weight: Column,
    max_rounds: int,
    broadcast: bool,
) -> tuple[DataFrame, bool]:
    """Min-plus label propagation from `seeds` until no value drops — the
    one loop behind BFS, connected components, weighted SSSP and landmark
    distances. Returns (state, converged).

    `seeds` holds `keys` plus one value column. The last key is the node;
    any others (a landmark id) ride along unchanged. Each round relaxes
    the frontier along the adjacency's s1 → s2 edges, adding `weight` (a
    Column over s1, s2 — it need not be symmetric), and keeps per key the
    min of its own value and every candidate. After r rounds a value is
    the least total weight over paths of at most r hops from a seed
    (synchronous Bellman-Ford), which is the contract of the depth-capped
    callers; `converged` is False when round `max_rounds` still changed
    a value.

    Frontier-only relaxation: values only ever decrease, and round k-1
    already folded every round-k-2 value into its neighbours, so a row
    that did not change in round k-1 cannot improve anything in round k.
    Round 1 relaxes all seeds; later rounds relax only the changed rows.
    Results and round counts equal relaxing the whole state every round,
    while the join probe (and the broadcast side) shrinks with the
    frontier instead of staying O(|V|).

    `broadcast` hints the frontier side of the relax join. A pinned
    frontier is an ExistingRDD whose stats never clear the auto-broadcast
    threshold, so un-hinted the planner sort-merge-joins it with the
    pinned adjacency and re-exchanges and re-sorts the |E|-row edge list
    every round; the hint leaves the edge list where it sits. Connected
    components passes False: broadcasting its frontier measured slower
    (r14 interleaved A/B on the sf0.1 dedup pair graph: 5.2-6.1 s
    shuffled, 7.5-8.3 s broadcast — the blocking per-round
    BroadcastExchange build cost more than the skipped |E|-row exchange).
    The broadcast side is still O(|V|) in the worst round.

    Each round is ONE aggregation (candidate min and the key's own
    previous value, NULL for a newly reached key) pinned lazily; the
    changed-count is the round's one job and materializes the pin. That
    single pass holds for the localCheckpoint path only: with
    RELIABLE_PIN_CONF and a checkpoint dir set, checkpoint(eager=False)
    recomputes the round in a separate write job after the count —
    correct either way, two passes per round."""
    *ride, node = keys
    (value,) = [c for c in seeds.columns if c not in keys]
    state = frontier = seeds
    for _ in range(max_rounds):
        src = frontier.withColumnRenamed(node, "s1")
        relaxed = (F.broadcast(src) if broadcast else src).join(adj, "s1").select(
            *ride,
            F.col("s2").alias(node),
            (F.col(value) + weight).alias(value),
            F.lit(False).alias("_own"),
        )
        nxt = (
            state.withColumn("_own", F.lit(True))
            .unionByName(relaxed)
            .groupBy(*keys)
            .agg(
                F.min(value).alias(value),
                F.min(F.when(F.col("_own"), F.col(value))).alias("_prev"),
            )
            .select(
                *keys,
                value,
                (
                    F.col("_prev").isNull() | (F.col(value) < F.col("_prev"))
                ).alias("_changed"),
            )
            .transform(pin, eager=False)
        )
        changed = nxt.where("_changed").limit(1).count()
        state = nxt.drop("_changed")
        if changed == 0:
            return state, True
        frontier = nxt.where("_changed").drop("_changed")
    return state, False


@query(
    "graph_bfs",
    oracle=f"""
    WITH RECURSIVE adj AS (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
    ), reach(suppkey, d) AS (
        SELECT CAST({_START} AS BIGINT), 0
        UNION
        SELECT adj.s2, reach.d + 1
        FROM reach JOIN adj ON adj.s1 = reach.suppkey
        WHERE reach.d < {_MAX_DEPTH}
    )
    SELECT suppkey, CAST(MIN(d) AS INT) AS depth
    FROM reach GROUP BY suppkey
    """,
    ref="SURVEY §2 L (graph SEARCH → iterative DataFrame BFS; adjacency = "
    "suppliers sharing a part)",
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS over the 'suppliers who ship a common part' graph, depth <= 3.

    The driver-side loop iterates over PLANS, not data: each level relaxes
    the newly reached nodes along the adjacency (min_relax with unit
    weights). At 100 TB this is the same shape large-scale connected-
    components/label-propagation jobs use; state lives in DataFrames,
    never in driver memory.
    """
    li = load(spark, sf_dir, "lineitem")
    return bfs(spark, coship_adj(li, exclude_self=False), _START, _MAX_DEPTH)


@query(
    "graph_components",
    oracle="""
    WITH RECURSIVE adj AS (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
    ), reach(a, b) AS (
        SELECT s1, s2 FROM adj
        UNION
        SELECT r.a, adj.s2 FROM reach r JOIN adj ON adj.s1 = r.b
    )
    SELECT a AS suppkey, CAST(MIN(b) AS BIGINT) AS component
    FROM reach GROUP BY a
    """,
    ref="SURVEY §2 L [EXT] (connected components via min-label propagation — "
    "the standard large-graph pattern, e.g. near-dup clustering after LSH; "
    "oracle is the recursive transitive closure, feasible at oracle scale "
    "only)",
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the shared-part supplier graph.

    Iterative min-label propagation: each round every node takes the min label
    among itself and its neighbors; converged when no label changes. Rounds ~
    graph diameter; state lives in a DataFrame (suppkey → label), each round
    is one shuffle on suppkey — the same shape GraphX/GraphFrames CC uses, so
    it holds at 100 TB (labels table is O(nodes), never O(edges²))."""
    li = load(spark, sf_dir, "lineitem")
    return connected_components(coship_adj(li, exclude_self=False))


def connected_components(adj: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation over an adjacency DataFrame (s1, s2; symmetric,
    self-loops allowed) → (suppkey, component=min node id in component):
    min_relax with zero weights, every node seeded with its own id.

    Raises RuntimeError if labels have not converged within max_rounds —
    returning partially-propagated labels would silently split one real
    component into several clusters (rounds needed ≈ graph diameter).

    The adjacency is pinned HERE, not left to callers: it is loop-invariant
    and joined every round, so an un-pinned lineage re-executes the caller's
    whole edge build per round (round-8 sf1 probe: llm_dedup_cluster's LSH
    pair pipeline re-ran ~10×, 283 s → 44 s with the pin; at 100 TB an
    un-pinned adj would re-scan the corpus per iteration)."""
    if not is_pinned(adj):
        # Width pin before the lineage pin (r14): the pinned RDD inherits
        # its partition layout from the upstream AQE-coalesced aggregate
        # (1-2 partitions for an MB-scale edge list) and Scan ExistingRDD
        # reports UnknownPartitioning, so every round's neighbor join was
        # scanning the edge list quasi-serially (measured: ~5 s/round on
        # the 1M-edge co-ship graph at sf0.1).
        adj = adj.repartition(fan_parts(adj.sparkSession), "s1")
    adj = pin_invariant(adj)
    labels = adj.select(F.col("s1").alias("suppkey")).distinct().withColumn(
        "component", F.col("suppkey")
    )
    labels, converged = min_relax(
        labels, adj, ["suppkey"], F.lit(0), max_rounds, broadcast=False
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            "(graph diameter exceeds max_rounds); raise max_rounds"
        )
    return labels


def bfs(spark: SparkSession, adj: DataFrame, start: int, max_depth: int) -> DataFrame:
    """Frontier BFS over an adjacency DataFrame (columns s1, s2) → (suppkey,
    depth) with depth = shortest hop count from `start`, capped at max_depth.
    The loop-invariant adjacency is pinned here (same rationale as
    connected_components: one materialization instead of max_depth edge-build
    re-executions)."""
    start_df = spark.createDataFrame([(start, 0)], "suppkey long, depth int")
    return min_relax(
        start_df, pin_invariant(adj), ["suppkey"], F.lit(1), max_depth,
        broadcast=True,
    )[0]


_PR_ITERS = 3
_PR_D = 0.85


def _pr_oracle() -> str:
    from ksql_spark.registry import sql_dsum

    head = """
    WITH adjx AS MATERIALIZED (
        -- MATERIALIZED: DuckDB inlines plain CTEs, re-running this
        -- self-join for every iteration that references it (mirrors the
        -- Spark-side localCheckpoint rationale)
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey <> b.l_suppkey
    ),
    nodes AS (
        SELECT s1 AS v FROM adjx UNION SELECT s2 FROM adjx
    ),
    deg AS (SELECT s1, CAST(COUNT(*) AS BIGINT) AS outd FROM adjx GROUP BY s1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes),
    pr0 AS (SELECT v, 1.0 / cnt AS pr FROM nodes, nn)
    """
    for t in range(1, _PR_ITERS + 1):
        head += f""",
    contrib{t} AS (
        SELECT adjx.s2 AS v, {sql_dsum(f'pr{t-1}.pr / deg.outd')} AS c
        FROM adjx
        JOIN pr{t-1} ON adjx.s1 = pr{t-1}.v
        JOIN deg ON adjx.s1 = deg.s1
        GROUP BY adjx.s2
    ),
    pr{t} AS (
        SELECT nodes.v,
               (1.0 - {_PR_D}) / cnt + {_PR_D} * COALESCE(contrib{t}.c, 0.0)
                   AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN contrib{t} ON nodes.v = contrib{t}.v
    )
    """
    return head + f"SELECT v AS suppkey, pr AS pagerank FROM pr{_PR_ITERS}"


@query(
    "graph_pagerank",
    oracle=_pr_oracle(),
    ref="SURVEY §2 L [EXT] (PageRank over the shared-part supplier graph, "
    "3 fixed power iterations, damping 0.85; per-iteration contribution "
    "sums quantized so the iterative doubles stay bit-identical to the "
    "unrolled-CTE oracle)",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank on the supplier co-part graph (self-loops
    dropped).

    Scale shape: each iteration is one join (ranks ⋈ edges on the source
    key) + one hash agg on the destination key — the canonical distributed
    PageRank step; the driver loop iterates over PLANS (3 of them), never
    over data. Edges and degrees are computed once and reused; at 100 TB
    the edge list would be bucketed on s1 so every iteration's join is
    co-located (see join_bucketed_colocated).

    Determinism: each iteration's contribution sum goes through the
    quantized scaled-long accumulation (registry dsum), so partition order
    cannot leak into low bits and the result matches the oracle bitwise."""
    from ksql_spark.registry import dsum

    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li, checkpoint=True)
    # LAZY pins (r14): `nodes` rides the initial rank vector AND every
    # iteration's left join (4 instances in the unrolled 3-iteration plan
    # — each an un-shared union+distinct exchange over the pinned edge
    # RDD), `deg` every iteration's contribution join (3 instances, each
    # re-aggregating the |E| edge list). Both are O(|V|) payloads; the
    # n_nodes count below doubles as the pin's materializing action.
    nodes = pin(
        adj.select(F.col("s1").alias("v"))
        .union(adj.select(F.col("s2").alias("v")))
        .distinct(),
        eager=False,
    )
    deg = pin(adj.groupBy("s1").agg(F.count("*").alias("outd")), eager=False)
    n_nodes = nodes.count()  # bounded: |suppliers| (a scalar the loop needs)
    pr = nodes.select("v", (F.lit(1.0) / F.lit(n_nodes)).alias("pr"))
    for _ in range(_PR_ITERS):
        contrib = (
            adj.join(pr, adj["s1"] == pr["v"])
            .join(deg, "s1")
            .groupBy(F.col("s2").alias("cv"))
            .agg(dsum(F.col("pr") / F.col("outd")).alias("c"))
        )
        pr = nodes.join(contrib, nodes["v"] == contrib["cv"], "left").select(
            "v",
            (
                F.lit((1.0 - _PR_D) / n_nodes)
                + F.lit(_PR_D) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select(F.col("v").alias("suppkey"), F.col("pr").alias("pagerank"))


# UNION ALL form: Spark 4.1's native recursive CTE does not (yet) support the
# UNION-dedup spelling, so each recursive step enumerates PATHS, not frontier
# nodes — the subgraph is capped (suppkey < 30) to keep the path count bounded
# at every SF, and the outer MIN(d) collapses paths back to BFS depths. The
# frontier-dedup formulation (which scales to the full graph) is the DataFrame
# entry `graph_bfs`.
_BFS_RECURSIVE_SQL = f"""
    WITH RECURSIVE adj AS (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < 30 AND b.l_suppkey < 30
          AND a.l_suppkey <> b.l_suppkey
    ), reach(suppkey, d) AS (
        SELECT CAST({_START} AS BIGINT), 0
        UNION ALL
        SELECT adj.s2, reach.d + 1
        FROM reach JOIN adj ON adj.s1 = reach.suppkey
        WHERE reach.d < {_MAX_DEPTH}
    )
    SELECT suppkey, CAST(MIN(d) AS INT) AS depth
    FROM reach GROUP BY suppkey
"""


@query(
    "graph_bfs_sql",
    oracle=_BFS_RECURSIVE_SQL,
    ref="SURVEY §2 L (the AlaSQL graph-SEARCH gap closed at the SQL "
    "surface: Spark 4's native WITH RECURSIVE runs the IDENTICAL recursive "
    "CTE the DuckDB oracle uses — same text, both engines; cross-checks the "
    "DataFrame BFS entry graph_bfs)",
)
def graph_bfs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-capped BFS via a native recursive CTE — the same query string
    as the oracle. NOTE: this is the UNION ALL path-enumeration form (Spark
    4.1 does not support UNION-dedup recursion), so the row count per level
    grows with PATHS, not frontier nodes — the suppkey < 30 subgraph cap in
    the SQL is load-bearing and must not be lifted; the frontier-dedup
    formulation that scales to the full graph is `graph_bfs`.

    Scale shape: Spark plans each recursive step as a join+distinct over
    the previous frontier — the same iterative shape the DataFrame builder
    (graph_bfs) spells manually; state stays distributed between steps."""
    from ksql_spark.tables import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(_BFS_RECURSIVE_SQL)


@query(
    "graph_triangle_count",
    oracle="""
    WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    keep AS (SELECT p FROM e0 GROUP BY p HAVING COUNT(*) <= 5),
    e1 AS (SELECT s, p FROM e0 JOIN keep USING (p)),
    adj AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM e1 a JOIN e1 b ON a.p = b.p AND a.s < b.s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM adj ab
    JOIN adj bc ON bc.s1 = ab.s2
    JOIN adj ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2
    """,
    ref="SURVEY §2 L5 [EXT] (triangle counting on the supplier co-ship "
    "graph — the clustering-coefficient / community-density primitive; "
    "ordered-wedge enumeration (s1<s2<s3 counts each triangle once) with "
    "HUB-PART PRUNING: parts shipped by more than 5 suppliers are dropped "
    "before the edge build, the standard high-degree-vertex mitigation "
    "that bounds the wedge blow-up at any scale)",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count triangles among suppliers connected by co-shipping a part.
    Edges come only from parts with <= 5 distinct suppliers (hub pruning:
    a part shipped by k suppliers contributes O(k²) edges and O(k³)
    wedges — dropping hubs is how production triangle counts stay
    tractable; the answer is then 'triangles through niche parts', the
    community signal hubs would drown anyway).

    Plan: degree filter reuses the distinct (s, p) projection's exchange;
    the ordered adjacency (s1 < s2) makes each triangle one wedge +
    one closing-edge probe — two hash joins, no direction double-count."""
    li = load(spark, sf_dir, "lineitem")
    e0 = coship_pairs(li)  # (s1, p)
    keep = e0.groupBy("p").agg(F.count("*").alias("d")).where(F.col("d") <= 5)
    e1 = e0.join(keep.select("p"), "p")
    adj = (
        e1.join(e1.select(F.col("s1").alias("s2"), "p"), "p")
        .where(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
    )
    ab, bc, ac = adj.alias("ab"), adj.alias("bc"), adj.alias("ac")
    return (
        ab.join(bc, F.col("bc.s1") == F.col("ab.s2"))
        .join(
            ac,
            (F.col("ac.s1") == F.col("ab.s1"))
            & (F.col("ac.s2") == F.col("bc.s2")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    adj AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM e0 a JOIN e0 b ON a.p = b.p AND a.s <> b.s
    ),
    deg AS (SELECT s1, COUNT(*) AS degree FROM adj GROUP BY s1)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    ref="SURVEY §2 L6 [EXT] (degree distribution of the supplier co-ship "
    "graph — the first diagnostic run on any production graph: it sizes "
    "the skew the join/triangle/CC jobs must survive and decides the "
    "hub-pruning threshold graph_triangle_count applies)",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of node degrees in the undirected co-ship graph. This is
    the pre-flight for every other graph op here: a heavy tail in this
    output is exactly what motivates graph_triangle_count's hub pruning
    and join_salted_skew's salting.

    Plan: distinct edge build (one exchange), per-node count riding the
    same key, then a tiny degree-keyed re-agg."""
    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li)
    deg = adj.groupBy("s1").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    ).select(F.col("degree").cast("bigint").alias("degree"), "n_nodes")


def _sssp_oracle(rounds: int = 4) -> str:
    """Unrolled Bellman-Ford CTEs (d0..dN) — same unrolling trick as the
    PageRank oracle; DuckDB 1.0's recursive CTE cannot keep a running MIN
    per node, the unrolled form can."""
    parts = [
        f"""
    WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    adj AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2,
               1 + (a.s * 7 + b.s * 13) % 5 AS w
        FROM e0 a JOIN e0 b ON a.p = b.p AND a.s <> b.s
    ),
    d0 AS (SELECT CAST({_START} AS BIGINT) AS s, CAST(0 AS BIGINT) AS dist)
    """
    ]
    for i in range(rounds):
        parts.append(
            f""",
    d{i + 1} AS (
        SELECT s, MIN(dist) AS dist FROM (
            SELECT s, dist FROM d{i}
            UNION ALL
            SELECT adj.s2 AS s, d{i}.dist + adj.w AS dist
            FROM d{i} JOIN adj ON d{i}.s = adj.s1
        ) GROUP BY s
    )"""
        )
    parts.append(
        f"""
    SELECT s AS suppkey, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """
    )
    return "".join(parts)


@query(
    "graph_sssp_weighted",
    oracle=_sssp_oracle(),
    ref="SURVEY §2 L7 [EXT] (weighted single-source shortest paths: 4 "
    "Bellman-Ford relaxation rounds over the co-ship graph with "
    "deterministic integer edge weights — the weighted companion of "
    "graph_bfs; oracle = the same recursion unrolled into CTEs, the "
    "graph_pagerank technique)",
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest weighted distance from supplier 0 after 4 relaxation
    rounds (edge weight = 1 + (7*s1 + 13*s2) % 5, exact integer math both
    engines; 4 rounds = paths of up to 4 hops, the depth-capped contract
    graph_bfs also uses).

    Scale shape: per round, ONE join of the changed-distance frontier
    (O(nodes)) against the adjacency on s1 + a min re-agg (min_relax) —
    state lives distributed, the driver loops over PLANS only, and a lazy
    pin truncates lineage per round."""
    li = load(spark, sf_dir, "lineitem")
    d = spark.createDataFrame([(_START, 0)], "s long, dist long")
    d, _ = min_relax(
        d,
        coship_adj(li, checkpoint=True),
        ["s"],
        1 + (F.col("s1") * 7 + F.col("s2") * 13) % 5,
        4,
        broadcast=True,
    )
    return d.select(
        F.col("s").alias("suppkey"), F.col("dist").cast("bigint").alias("dist")
    )


_KCORE_K = 16
_KCORE_ROUNDS = 4


def _weighted_adj(li: DataFrame) -> DataFrame:
    """Thresholded co-ship adjacency: undirected supplier pairs sharing at
    least 1.05x the mean shared-part count. The RELATIVE threshold keeps
    the graph non-degenerate across scale factors (absolute shared counts
    grow with SF; the mean grows with them)."""
    # Explosion-width pin (r14, guide §2.2): same rationale as coship_adj —
    # without it the Σ_p cnt(p)² ≈ 18M-row incidence self-join and the pair
    # aggregation run in ONE AQE-coalesced task (measured: the adjacency
    # build alone cost 12.8 s of every wedge-family entry at sf0.1).
    inc = coship_pairs(li).repartition(fan_parts(li.sparkSession), "p")
    b = inc.select(F.col("s1").alias("s2"), "p")
    # LAZY pin: `pair` feeds BOTH the threshold aggregate and the filter —
    # un-pinned, the |lineitem| scan + incidence self-join (Σ_p cnt(p)² rows)
    # + pair aggregation ran TWICE per adjacency build (measured 13.3 s at
    # sf0.1, roughly half of it this duplication; every pinned-adjacency
    # graph entry pays the build). Pinning the ~|V|² pair table (tiny next
    # to the join volume) computes the expensive subtree once.
    #
    # r14 unordered-mirror build (guide §2.3): shared counts are symmetric
    # — shared(s1,s2) = shared(s2,s1) — so only s1 < s2 pairs are
    # enumerated (halves the Σ_p cnt(p)² join output feeding the count
    # agg, 18M → 9M rows at sf0.1, and halves the pinned pair table) and
    # the thresholded half mirrors through a single-pass explode (a
    # Generate — a union here would duplicate the keep subtree and its
    # threshold broadcast in the plan, measured slower). The avg threshold
    # is EXACTLY unchanged: `shared` is an exact bigint count, the
    # symmetric table holds every unordered value twice, and avg =
    # (2s)/(2n) = s/n in IEEE doubles (both sums exact integers, scaling
    # by 2 is exact). Output row set identical (probe: exceptAll both
    # ways = 0/0). Isolated build A/B: 6.1-7.2 s → 4.4-5.0 s at sf0.1;
    # entry-level deltas sit inside this box's noise band, the win is the
    # halved exchange at scale.
    pair = pin(
        inc.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("shared")),
        eager=False,
    )
    thr = pair.agg((F.avg("shared") * 1.05).alias("thr"))
    keep = pair.crossJoin(F.broadcast(thr)).where(
        F.col("shared") >= F.col("thr")
    )
    return keep.select(
        F.explode(
            F.array(
                F.struct(F.col("s1"), F.col("s2")),
                F.struct(F.col("s2").alias("s1"), F.col("s1").alias("s2")),
            )
        ).alias("e")
    ).select("e.s1", "e.s2")


def kcore_round(adj: DataFrame, k: int) -> DataFrame:
    """One peeling round: drop nodes with degree < k, keep only edges with
    BOTH endpoints surviving. Symmetric adjacency makes groupBy(s1) the
    full degree."""
    keep = (
        adj.groupBy("s1")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") >= k)
        .select("s1")
    )
    return (
        adj.join(keep, "s1")
        .join(keep.withColumnRenamed("s1", "s2"), "s2")
        .select("s1", "s2")
    )


def _kcore_sql_rounds(k: int, rounds: int) -> str:
    parts = []
    prev = "adj0"
    for r in range(1, rounds + 1):
        parts.append(
            f"keep{r} AS MATERIALIZED (SELECT s1 FROM {prev} GROUP BY s1"
            f" HAVING COUNT(*) >= {k}), "
            f"adj{r} AS MATERIALIZED (SELECT a.s1, a.s2 FROM {prev} a"
            f" JOIN keep{r} x ON a.s1 = x.s1"
            f" JOIN keep{r} y ON a.s2 = y.s1)"
        )
        prev = f"adj{r}"
    return ", ".join(parts), prev


_KCORE_CTES, _KCORE_FINAL = _kcore_sql_rounds(_KCORE_K, _KCORE_ROUNDS)


@query(
    "graph_kcore",
    oracle=f"""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj0 AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), {_KCORE_CTES}
    SELECT s1 AS suppkey, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM {_KCORE_FINAL} GROUP BY s1
    """,
    ref="SURVEY §2 L8 [EXT] (k-core decomposition: iterative peeling of "
    "nodes below degree k on the weight-thresholded supplier co-ship "
    "graph — the dense-subgraph / community-core extraction primitive; "
    "Seidman 1983)",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes of the k=16 core of the thresholded co-ship graph, with their
    within-core degree. Peeling is the textbook fixpoint (drop deg < k,
    re-check — a node can fall below k only AFTER neighbors drop);
    Four unrolled rounds converge at test scale (pinned: tests assert one
    extra round is a no-op) and extra rounds are idempotent by
    construction. Oracle = the identical rounds unrolled into CTEs (the
    graph_pagerank technique).

    Scale shape: state is the surviving EDGE list — one degree hash-agg +
    two semi-joins per round, all keyed on node id; rounds ~ peel depth
    (bounded by degeneracy ordering length, typically << |V|).
    localCheckpoint per round keeps the plan flat (the L2/L3 discipline).
    The weighted adjacency build reuses coship_pairs; its threshold is a
    broadcast 1-row aggregate."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    # r14 early exit (the BFS/landmark/sssp changed-count device): peeling
    # is monotone — each round's edge set is a SUBSET of its input, so an
    # unchanged edge COUNT means an unchanged edge SET and every later
    # round is the identity. The per-round count doubles as the round
    # pin's materializing action (one pass per round, as before — the
    # counts just surface the cascade the final action used to run); on
    # the dense sf0.1 graph round 1 already drops nothing, so rounds 2-4
    # (each a degree agg + two semi-joins over the full edge list) are
    # skipped outright. Declared output identical: skipped rounds are
    # provably the identity, and the oracle's extra unrolled CTE rounds
    # are no-ops on the same fixpoint.
    prev = adj.count()
    for _ in range(_KCORE_ROUNDS):
        adj = kcore_round(adj, _KCORE_K).transform(pin, eager=False)
        n_edges = adj.count()
        if n_edges == prev:
            break
        prev = n_edges
    return adj.groupBy(F.col("s1").alias("suppkey")).agg(
        F.count("*").alias("core_degree")
    )


_AA_TOPK = 20


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), deg AS (
        SELECT s1 AS z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY s1
    ), wedge AS (
        SELECT e1.s1 AS a, e2.s2 AS b, e1.s2 AS z
        FROM adj e1 JOIN adj e2 ON e1.s2 = e2.s1
        WHERE e1.s1 < e2.s2
    ), nonedge AS (
        SELECT w.a, w.b, w.z FROM wedge w
        LEFT JOIN adj e ON e.s1 = w.a AND e.s2 = w.b
        WHERE e.s1 IS NULL
    ), scored AS (
        SELECT a, b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(trunc(1.0 / ln(CAST(d AS DOUBLE))
                                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS aa_q6
        FROM nonedge JOIN deg USING (z)
        GROUP BY a, b
    )
    SELECT a AS suppkey_a, b AS suppkey_b, common_neighbors,
           CAST(aa_q6 AS DOUBLE) / 1000000.0 AS adamic_adar,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY aa_q6 DESC, a, b) AS rnk
        FROM scored
    ) WHERE rnk <= {_AA_TOPK}
    """,
    ref="SURVEY §2 L9 [EXT] (Adamic-Adar link prediction: for NON-edges "
    "of the thresholded co-ship graph, sum 1/ln(deg) over common "
    "neighbors — the classic 'who should be connected' score; wedge "
    "enumeration bounded by the same degree profile that sizes L5's "
    "hub pruning)",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links (a < b, not currently adjacent) by
    Adamic-Adar: Σ_z 1/ln(deg(z)) over common neighbors z. A common
    neighbor has degree >= 2 by construction, so ln(deg) > 0 and every
    contribution is finite; contributions quantize to 1e-6 and sum
    exactly, making the ranking deterministic.

    Scale shape: wedges are one self-join of the (already thresholded,
    L8) adjacency on the middle node — Σ deg(z)² rows, the quantity L6's
    degree histogram diagnoses and hub pruning bounds; the non-edge
    filter is an anti-join on the pair key; scoring joins the |V|-row
    degree table (broadcastable). Output is top-k over the candidate
    pair set."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("z")).agg(F.count("*").alias("d"))
    contrib = (
        (1.0 / F.log(F.col("d").cast("double"))) * 1000000 + 0.5
    ).cast("bigint")
    # r14: (a) explosion-width pin on the wedge self-join (fan_parts — AQE
    # otherwise generates the Σ deg² wedge rows in one task); (b) the
    # 1/ln(deg(z)) contribution attaches to the |E|-row e2 side BEFORE the
    # wedge join (same broadcast, deg(z) is a function of the join key), so
    # the 77M wedge rows carry (a, b, c_q6) directly instead of being
    # re-probed against the degree broadcast after the explosion.
    n = fan_parts(spark)
    e1 = adj.select(F.col("s1").alias("a"), F.col("s2").alias("z")).repartition(n, "z")
    # deg(z) >= 2 filter: a degree-1 center's only wedge pair is (a, a),
    # which the a < b filter drops — so excluding those edge rows changes
    # nothing, and keeps 1/ln(deg) from ever seeing ln(1) = 0 (ANSI
    # divide-by-zero; surviving wedge centers have deg >= 2 by
    # construction, which is why the old post-wedge attach never hit it).
    e2 = (
        adj.select(F.col("s1").alias("z"), F.col("s2").alias("b"))
        .join(F.broadcast(deg), "z")
        .where(F.col("d") >= 2)
        .select("z", "b", contrib.alias("c_q6"))
        .repartition(n, "z")
    )
    wedge = e1.join(e2, "z").where(F.col("a") < F.col("b"))
    # The non-edge anti-join runs AFTER the (a, b) aggregation: the anti
    # filter is on the group key, so dropping rows before the agg and
    # dropping whole groups after it produce identical results — but after
    # the agg it probes |candidate pairs| rows instead of every one of the
    # Σ deg² wedge rows (77M at sf0.1 for the uncapped entry).
    scored = (
        wedge.select("a", "b", "c_q6")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("c_q6").alias("aa_q6"),
        )
    )
    scored = scored.join(
        adj,
        (adj["s1"] == scored["a"]) & (adj["s2"] == scored["b"]),
        "left_anti",
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition top-k,
    # tiny driver merge) — a global row_number window would move EVERY scored
    # pair to one partition before discarding all but k (sf10 probe: the
    # window spelling cost 378 s vs this one's distributed top-k; bit-exact —
    # the (aa_q6 DESC, a, b) order is total). rank is then a 20-row window.
    top = scored.orderBy(F.col("aa_q6").desc(), "a", "b").limit(_AA_TOPK)
    rw = Window.orderBy(F.col("aa_q6").desc(), "a", "b")
    return (
        top.withColumn("rank", F.row_number().over(rw))
        .select(
            F.col("a").alias("suppkey_a"),
            F.col("b").alias("suppkey_b"),
            "common_neighbors",
            (F.col("aa_q6").cast("double") / 1000000.0).alias("adamic_adar"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@query(
    "graph_assortativity",
    oracle="""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), deg AS MATERIALIZED (
        SELECT s1 AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM adj GROUP BY s1
    ), ends AS (
        SELECT CAST(da.d AS BIGINT) AS x, CAST(db.d AS BIGINT) AS y
        FROM adj JOIN deg da ON adj.s1 = da.node
                 JOIN deg db ON adj.s2 = db.node
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           CAST(trunc(
               (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
               / (sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)
                            AS DOUBLE))
                  * sqrt(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)
                              AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS assortativity
    FROM ends
    """,
    ref="SURVEY §2 L10 [EXT] (degree assortativity: Pearson correlation "
    "of endpoint degrees over the symmetric edge list (Newman 2002) — "
    "positive = hubs link hubs (social), negative = hub-and-spoke "
    "(technological); the one-number structure summary that decides "
    "whether L5's hub pruning or C12's salting is the right mitigation)",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the thresholded co-ship graph:
    Pearson r of (deg(u), deg(v)) over all directed edge occurrences
    (the symmetric list counts each undirected edge in both directions,
    which is exactly Newman's definition). Integer degree moments —
    sums are exact, one quantized double division at the end.

    Scale shape: degrees are one node-keyed agg; the two endpoint joins
    broadcast the |V|-row degree table onto the edge list; the final
    correlation is a 1-row aggregate of integer moments. Edge-list
    sized narrow work, nothing quadratic."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("node")).agg(F.count("*").alias("d"))
    ends = (
        adj.join(
            F.broadcast(deg.select(F.col("node").alias("s1"), F.col("d").alias("x"))),
            "s1",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("s2"), F.col("d").alias("y"))),
            "s2",
        )
        .select("x", "y")
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx, syy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("y") * F.col("y"))
    # try_divide: a degree-regular (or empty) graph has zero variance —
    # NULL r (SQL x/0 semantics), not an ANSI abort; sf0.001's thresholded
    # graph is exactly this case
    r = (
        F.try_divide(
            (n * sxy - sx * sy).cast("double"),
            F.sqrt((n * sxx - sx * sx).cast("double"))
            * F.sqrt((n * syy - sy * sy).cast("double")),
        )
        * 1000000
        + 0.5
    ).cast("bigint").cast("double") / 1000000.0
    return ends.agg(
        n.cast("bigint").alias("n_directed_edges"), r.alias("assortativity")
    )


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), deg AS MATERIALIZED (
        SELECT s1 AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM adj GROUP BY s1
    ), tri AS (
        SELECT e1.s1 AS node, CAST(COUNT(*) AS BIGINT) AS n_closed
        FROM adj e1
        JOIN adj e2 ON e1.s2 = e2.s1
        JOIN adj e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
        GROUP BY e1.s1
    )
    SELECT deg.node AS suppkey, deg.d AS degree,
           CAST(COALESCE(tri.n_closed, 0) / 2 AS BIGINT) AS n_triangles,
           CASE WHEN deg.d < 2 THEN 0.0
                ELSE CAST(trunc(
                    CAST(COALESCE(tri.n_closed, 0) AS DOUBLE)
                    / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
                    * 1000000 + 0.5) AS BIGINT) / 1000000.0
           END AS clustering_coeff
    FROM deg LEFT JOIN tri ON deg.node = tri.node
    """,
    ref="SURVEY §2 L11 [EXT] (local clustering coefficient: closed wedges "
    "/ possible wedges per node (Watts-Strogatz 1998) — how clique-like "
    "each supplier's neighborhood is; the per-node refinement of L5's "
    "global triangle count, sharing the thresholded adjacency and the "
    "wedge-enumeration posture)",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C(v) = 2*triangles(v) / (deg(v)*(deg(v)-1)) over the thresholded
    co-ship graph. Closed wedges centered at v are counted directed (each
    triangle contributes 2 per vertex), so n_triangles = closed/2 exactly
    and the coefficient uses the directed count over d*(d-1) — the same
    ratio, no halving error. Degree-<2 nodes get 0 by convention.

    Scale shape: the wedge join (e1: v-a, e2: a-b) is the L9 self-join,
    closed by an equi-join back onto the edge list (v-b) — all three legs
    keyed, no cartesian; wedge volume is the L6-diagnosed sum of deg²,
    bounded by the same thresholding/hub arguments as L5/L9. Output is
    |V|-sized."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("node")).agg(F.count("*").alias("d"))
    # r14 degree-oriented triangle enumeration (guide §2.4; the classic
    # triangle-counting orientation): direct each undirected edge from its
    # (deg, id)-smaller endpoint — a strict total order, so every triangle
    # has exactly ONE vertex whose two triangle edges both point outward.
    # Enumerating ordered out-neighbor pairs of that vertex and probing the
    # oriented closing edge finds each triangle exactly once: wedge volume
    # drops from Σ deg² (155M directed at sf0.1) to Σ C(outdeg, 2) where
    # outdeg sums to |E|/2 (~19M), and the closure probe shrinks the same
    # way. Per-node directed closed-wedge counts are recovered exactly:
    # n_closed(v) = 2 · triangles(v), credited by exploding each triangle
    # to its three vertices. The final arithmetic below is unchanged and
    # n_closed is the same integer, so the output is bit-identical.
    dsml = F.broadcast(deg)
    oadj = (
        adj.join(dsml.withColumnRenamed("node", "s1").withColumnRenamed("d", "d1"), "s1")
        .join(dsml.withColumnRenamed("node", "s2").withColumnRenamed("d", "d2"), "s2")
        .where(
            (F.col("d1") < F.col("d2"))
            | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2")))
        )
        .select(
            F.col("s1").alias("u"),
            F.col("s2").alias("x"),
            F.col("d2").alias("dx"),
        )
    ).transform(pin_invariant)
    n = fan_parts(spark)
    o1 = oadj.repartition(n, "u")
    o2 = oadj.select(
        F.col("u"), F.col("x").alias("y"), F.col("dx").alias("dy")
    ).repartition(n, "u")
    wedge = o1.join(o2, "u").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oadj.select(F.col("u").alias("x"), F.col("x").alias("y"))
    closed = wedge.join(closing, ["x", "y"])
    # explode(array(u, x, y)), NOT a 3-way union of projections: union
    # branches re-execute the closure-join subtree once per branch (the
    # shared exchange is reused but the 22M-row merge/probe is not —
    # measured 22.2 s vs 9.5 s for the identical multiset via one narrow
    # Generate in the join's output pipeline).
    tri = (
        closed.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg((F.count("*") * 2).alias("n_closed"))
    )
    nc = F.coalesce(F.col("n_closed"), F.lit(0))
    coeff = F.when(F.col("d") < 2, F.lit(0.0)).otherwise(
        (
            nc.cast("double")
            / (F.col("d").cast("double") * (F.col("d") - 1))
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    return deg.join(tri, "node", "left").select(
        F.col("node").alias("suppkey"),
        F.col("d").alias("degree"),
        (nc / 2).cast("bigint").alias("n_triangles"),
        coeff.alias("clustering_coeff"),
    )


#: Wedge-family production lever (VERDICT r8 item 4): truncate every node's
#: neighbor list to its _WEDGE_CAP lowest-Knuth-hash neighbors before
#: enumerating wedges. Wedge volume drops from Σ deg² (154M at sf0.1 on the
#: near-complete co-ship graph; the round-8 probe's >30 s tail) to n·cap²
#: (~1M at sf0.1), LINEAR in n at fixed cap — while closure/degree checks
#: stay against the FULL graph and the hash draw is integer math both
#: engines spell identically, so the estimator itself is oracle-EXACT.
_WEDGE_CAP = 32

#: Oracle spelling of the per-neighbor Knuth draw (sign-preserving %, the
#: llm_sample_stratified contract — suppkeys are non-negative).
_WEDGE_HASH_SQL = "((s2 % 2147483648) * 2654435761) % 4294967296"


def _sampled_adj_sql(adj_cte: str, cap: int) -> str:
    """SQL CTE body: adjacency truncated to each node's `cap` lowest-hash
    neighbors (ties broken on neighbor id — a total order)."""
    return f"""
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   row_number() OVER (PARTITION BY s1
                                      ORDER BY {_WEDGE_HASH_SQL}, s2) AS rn
            FROM {adj_cte}
        ) WHERE rn <= {cap}
    """


def _sampled_adj(adj: DataFrame, cap: int = _WEDGE_CAP) -> DataFrame:
    """Spark twin of _sampled_adj_sql: per-node deterministic neighbor
    truncation by the Knuth multiplicative hash of the neighbor id."""
    hk = (
        (F.col("s2") % F.lit(2147483648)) * F.lit(2654435761).cast("long")
    ) % F.lit(4294967296)
    w = Window.partitionBy("s1").orderBy(hk.asc(), F.col("s2").asc())
    return (
        adj.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .select("s1", "s2")
    )


@query(
    "graph_clustering_coefficient_capped",
    oracle=f"""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), deg AS MATERIALIZED (
        SELECT s1 AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM adj GROUP BY s1
    ), samp AS MATERIALIZED ({_sampled_adj_sql('adj', _WEDGE_CAP)}
    ), sdeg AS (
        SELECT s1 AS node, CAST(COUNT(*) AS BIGINT) AS m FROM samp GROUP BY s1
    ), tri AS (
        SELECT e1.s1 AS node, CAST(COUNT(*) AS BIGINT) AS n_closed
        FROM samp e1
        JOIN samp e2 ON e1.s1 = e2.s1 AND e1.s2 <> e2.s2
        JOIN adj e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2
        GROUP BY e1.s1
    )
    SELECT deg.node AS suppkey, deg.d AS degree, sdeg.m AS n_sampled,
           CASE WHEN sdeg.m < 2 THEN 0.0
                ELSE CAST(trunc(
                    CAST(COALESCE(tri.n_closed, 0) AS DOUBLE)
                    / (CAST(sdeg.m AS DOUBLE) * (sdeg.m - 1))
                    * 1000000 + 0.5) AS BIGINT) / 1000000.0
           END AS clustering_coeff_est
    FROM deg JOIN sdeg ON deg.node = sdeg.node
    LEFT JOIN tri ON deg.node = tri.node
    """,
    ref="SURVEY §2 L11 [EXT] (production clustering coefficient: per-node "
    "neighbor truncation to the _WEDGE_CAP lowest-hash neighbors before "
    "wedge enumeration — the high-degree-vertex treatment of large-graph "
    "triangle counting (cf. Tsourakakis et al. 2009 Doulion's sparsify-"
    "then-count, made deterministic); closure and degree stay against the "
    "FULL graph, so the estimator is oracle-exact and equals L11 exactly "
    "on nodes with deg <= cap)",
)
def graph_clustering_coefficient_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated local clustering coefficient with bounded wedge work:
    for each node, the fraction of CONNECTED pairs among its m <= 32
    lowest-hash neighbors (connectivity checked on the full adjacency).
    For nodes with degree <= cap this IS the exact coefficient (the sample
    is the whole neighborhood — pinned by the agreement-law test); hubs
    get a deterministic estimate whose wedge cost is cap² instead of deg².

    Scale shape — the L11 production posture: wedge volume n·cap² (LINEAR
    in n; sf0.1 measured 154M exact wedges -> ~1M capped), neighbor
    truncation is one window over the edge list, closure is an equi-join
    on the (a, b) pair key. The exact entry stays registered as the
    oracle-parity spec for small/thresholded graphs."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("node")).agg(F.count("*").alias("d"))
    samp = _sampled_adj(adj)
    sdeg = samp.groupBy(F.col("s1").alias("node")).agg(F.count("*").alias("m"))
    e1 = samp.select(F.col("s1").alias("v"), F.col("s2").alias("a"))
    e2 = samp.select(F.col("s1").alias("v"), F.col("s2").alias("b"))
    pairs = e1.join(e2, "v").where(F.col("a") != F.col("b"))
    closed = pairs.join(adj, (adj["s1"] == pairs["a"]) & (adj["s2"] == pairs["b"]))
    tri = closed.groupBy(F.col("v").alias("node")).agg(F.count("*").alias("n_closed"))
    nc = F.coalesce(F.col("n_closed"), F.lit(0))
    coeff = F.when(F.col("m") < 2, F.lit(0.0)).otherwise(
        (
            nc.cast("double")
            / (F.col("m").cast("double") * (F.col("m") - 1))
            * 1000000
            + 0.5
        )
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    return (
        deg.join(sdeg, "node")
        .join(tri, "node", "left")
        .select(
            F.col("node").alias("suppkey"),
            F.col("d").alias("degree"),
            F.col("m").alias("n_sampled"),
            coeff.alias("clustering_coeff_est"),
        )
    )


@query(
    "graph_adamic_adar_capped",
    oracle=f"""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), deg AS (
        SELECT s1 AS z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY s1
    ), samp AS MATERIALIZED ({_sampled_adj_sql('adj', _WEDGE_CAP)}
    ), wedge AS (
        SELECT e1.s2 AS a, e2.s2 AS b, e1.s1 AS z
        FROM samp e1 JOIN samp e2 ON e1.s1 = e2.s1
        WHERE e1.s2 < e2.s2
    ), nonedge AS (
        SELECT w.a, w.b, w.z FROM wedge w
        LEFT JOIN adj e ON e.s1 = w.a AND e.s2 = w.b
        WHERE e.s1 IS NULL
    ), scored AS (
        SELECT a, b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(trunc(1.0 / ln(CAST(d AS DOUBLE))
                                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS aa_q6
        FROM nonedge JOIN deg USING (z)
        GROUP BY a, b
    )
    SELECT a AS suppkey_a, b AS suppkey_b, common_neighbors,
           CAST(aa_q6 AS DOUBLE) / 1000000.0 AS adamic_adar,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY aa_q6 DESC, a, b) AS rnk
        FROM scored
    ) WHERE rnk <= {_AA_TOPK}
    """,
    ref="SURVEY §2 L9 [EXT] (production Adamic-Adar: wedges enumerated "
    "through each middle node's _WEDGE_CAP lowest-hash neighbors only — "
    "n·cap² candidate wedges instead of Σ deg²; the contribution weight "
    "1/ln(deg) uses the FULL degree and the non-edge filter the FULL "
    "adjacency, so the score is a deterministic oracle-exact estimator "
    "that equals L9 exactly when every middle degree <= cap)",
)
def graph_adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links by SAMPLED Adamic-Adar: wedges a-z-b are
    enumerated only through each middle node z's truncated neighbor list,
    bounding the candidate space at n·cap²; each surviving wedge still
    contributes the exact 1/ln(full-degree(z)) and pairs already adjacent
    in the FULL graph are excluded. On graphs whose middle degrees are all
    <= cap this returns exactly graph_adamic_adar's ranking.

    Scale shape: the truncation window replaces the Σ deg² self-join blow-
    up (the round-8 probe's 193 s tail) with a LINEAR n·cap² wedge join;
    non-edge anti-join and the broadcast degree join are unchanged from
    the exact twin."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("z")).agg(F.count("*").alias("d"))
    samp = _sampled_adj(adj)
    e1 = samp.select(F.col("s2").alias("a"), F.col("s1").alias("z"))
    e2 = samp.select(F.col("s1").alias("z"), F.col("s2").alias("b"))
    wedge = e1.join(e2, "z").where(F.col("a") < F.col("b"))
    contrib = (
        (1.0 / F.log(F.col("d").cast("double"))) * 1000000 + 0.5
    ).cast("bigint")
    # The non-edge anti-join runs AFTER the (a, b) aggregation: the anti
    # filter is on the group key, so dropping rows before the agg and
    # dropping whole groups after it produce identical results — but after
    # the agg it probes |candidate pairs| rows instead of every one of the
    # Σ deg² wedge rows (77M at sf0.1 for the uncapped entry).
    scored = (
        wedge.join(F.broadcast(deg), "z")
        .select("a", "b", contrib.alias("c_q6"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("c_q6").alias("aa_q6"),
        )
    )
    scored = scored.join(
        adj,
        (adj["s1"] == scored["a"]) & (adj["s2"] == scored["b"]),
        "left_anti",
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition top-k,
    # tiny driver merge) — a global row_number window would move EVERY scored
    # pair to one partition before discarding all but k (sf10 probe: the
    # window spelling cost 378 s vs this one's distributed top-k; bit-exact —
    # the (aa_q6 DESC, a, b) order is total). rank is then a 20-row window.
    top = scored.orderBy(F.col("aa_q6").desc(), "a", "b").limit(_AA_TOPK)
    rw = Window.orderBy(F.col("aa_q6").desc(), "a", "b")
    return (
        top.withColumn("rank", F.row_number().over(rw))
        .select(
            F.col("a").alias("suppkey_a"),
            F.col("b").alias("suppkey_b"),
            "common_neighbors",
            (F.col("aa_q6").cast("double") / 1000000.0).alias("adamic_adar"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


_LPA_ADJ_SQL = """
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey <> b.l_suppkey
"""


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round in SQL: each node adopts the most frequent
    label among its neighbors, ties broken to the smallest label."""
    return f"""
    c_{out} AS (
        SELECT e.s2 AS node, l.label, COUNT(*) AS c
        FROM adjd e JOIN {prev} l ON l.node = e.s1
        GROUP BY e.s2, l.label
    ), p_{out} AS (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c_{out}
    ), {out} AS (SELECT node, label FROM p_{out} WHERE rn = 1)
    """


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH adjd AS ({_LPA_ADJ_SQL}),
    l0 AS (SELECT DISTINCT s1 AS node, s1 AS label FROM adjd),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')}
    SELECT node, CAST(label AS BIGINT) AS community FROM l2
    """,
    ref="SURVEY §2 L12 [EXT] (Raghavan et al. 2007 label propagation, 2 "
    "synchronous rounds over the co-ship graph with the deterministic "
    "(count DESC, label ASC) tie-break — COMMUNITIES where L2/L4 "
    "connected components find only reachability: LPA splits a "
    "connected graph along its dense regions)",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community id per supplier after two synchronous label-propagation
    rounds: start with label = own id, each round every node adopts its
    neighbors' most frequent label (most-frequent → count DESC; ties →
    smallest label, making the async-random textbook algorithm
    deterministic and therefore oracle-checkable). Two rounds is where
    the co-ship graph's label histogram stabilizes at test scales; the
    round count is the same documented unroll knob as L7's Bellman-Ford.

    Scale shape: each round is ONE edges⋈labels equi-join (labels table
    is O(nodes), shuffled on the node key), one (node, label) hash agg,
    and a node-partitioned argmax window riding the agg's exchange — no
    per-round edge rebuild (adjacency localCheckpointed once). At 100 TB
    the join degrades to shuffled-hash by size estimate; nothing is
    ever all-pairs."""
    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li, exclude_self=True, checkpoint=True)
    labels = adj.select(F.col("s1").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(2):
        counts = (
            adj.join(labels, adj["s1"] == labels["node"])
            .groupBy(F.col("s2").alias("nd"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("nd").orderBy(
            F.col("c").desc(), F.col("label")
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "label")
            # LAZY: no mid-loop count is taken here, so the final action can
            # materialize the per-round checkpoints in one cascade instead of
            # one full eager-checkpoint job per round.
            .transform(pin, eager=False)
        )
    return labels.select("node", F.col("label").alias("community"))


# ADVICE r6 asked for landmarks seeded from real node ids, asserting
# suppkeys start at 1 and that landmark 0 was a phantom. The premise is
# false on the driver fixture: min(l_suppkey) == 0, so node 0 is REAL —
# and keeping it as a landmark preserves the cross-operator law that
# landmark-_START distances equal graph_bfs depths within the round
# horizon (tests/test_llm_quality.py triangle-inequality test). On a
# 1-based TPC-H dataset the seeds would be [1, 2, 3, 4]; seeds are ids
# of REAL nodes either way, which is what the advice actually wanted.
_LANDMARKS = [_START, 1, 2, 3]
_LM_ROUNDS = 3


def _landmark_oracle(final_select: str | None = None) -> str:
    """Unrolled multi-source BFS CTEs — the _sssp_oracle technique with a
    (landmark, node) composite state key. ``final_select`` replaces the
    default per-(landmark, node) projection so siblings (L21 closeness)
    reuse the BFS body without a fragile string .replace on the tail."""
    seeds = " UNION ALL ".join(
        f"SELECT CAST({x} AS BIGINT) AS lm, CAST({x} AS BIGINT) AS s, "
        f"CAST(0 AS BIGINT) AS dist"
        for x in _LANDMARKS
    )
    parts = [
        f"""
    WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    adj AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM e0 a JOIN e0 b ON a.p = b.p AND a.s <> b.s
    ),
    l0 AS ({seeds})
    """
    ]
    for i in range(_LM_ROUNDS):
        parts.append(
            f""",
    l{i + 1} AS (
        SELECT lm, s, MIN(dist) AS dist FROM (
            SELECT lm, s, dist FROM l{i}
            UNION ALL
            SELECT l{i}.lm, adj.s2 AS s, l{i}.dist + 1 AS dist
            FROM l{i} JOIN adj ON l{i}.s = adj.s1
        ) GROUP BY lm, s
    )"""
        )
    parts.append(
        final_select
        if final_select is not None
        else f"""
    SELECT lm AS landmark, s AS suppkey, CAST(dist AS BIGINT) AS dist
    FROM l{_LM_ROUNDS}
    """
    )
    return "".join(parts)


@query(
    "graph_landmark_distances",
    oracle=_landmark_oracle(),
    ref="SURVEY §2 L13 [EXT] (multi-source landmark BFS: hop distances "
    "from 4 pivot nodes in ONE shared traversal — the landmark/sketch "
    "technique (Potamias et al. CIKM 2009) that answers approximate "
    "point-to-point distance as min over landmarks d(u,l)+d(l,v) "
    "without per-query traversals; oracle = the L7 unrolled-CTE "
    "technique with a composite (landmark, node) state key)",
)
def graph_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from each of 4 landmark suppliers to every node
    within 3 BFS rounds, computed in ONE traversal whose state is keyed
    (landmark, node) — k traversals for the price of one scan pattern.
    The output table IS the distance sketch: approximate d(u,v) <=
    min_l d(u,l) + d(l,v), the standard trick for shortest-path
    estimation on graphs too large for per-query BFS.

    Scale shape: identical to graph_bfs/graph_sssp_weighted — per round
    one equi-join of the O(|landmarks|·|nodes|) state against the
    checkpointed adjacency on s1 plus a min re-agg; the composite key
    multiplies state rows by |landmarks| (4), never the edge pass
    count. The driver loop runs over PLANS only; min_relax stops at the
    first round that changes nothing (on the dense co-ship graph every
    node is ~1 hop from every landmark)."""
    li = load(spark, sf_dir, "lineitem")
    d = spark.createDataFrame(
        [(x, x, 0) for x in _LANDMARKS], "lm long, s long, dist long"
    )
    d, _ = min_relax(
        d, coship_adj(li, checkpoint=True), ["lm", "s"], F.lit(1), _LM_ROUNDS,
        broadcast=True,
    )
    return d.select(
        F.col("lm").alias("landmark"),
        F.col("s").alias("suppkey"),
        F.col("dist").cast("bigint").alias("dist"),
    )


@query(
    "graph_two_hop_reach",
    oracle="""
    WITH inc AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pair AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM inc a JOIN inc b USING (p)
        WHERE a.s <> b.s GROUP BY a.s, b.s
    ), adj AS MATERIALIZED (
        SELECT s1, s2 FROM pair
        WHERE shared >= 1.05 * (SELECT AVG(shared) FROM pair)
    ), ball AS (
        SELECT s1, s2 FROM adj
        UNION
        SELECT e1.s1, e2.s2
        FROM adj e1 JOIN adj e2 ON e1.s2 = e2.s1
        WHERE e1.s1 <> e2.s2
    )
    SELECT s1 AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS reach_2hop
    FROM ball GROUP BY s1
    """,
    ref="SURVEY §2 L14 [EXT] (2-hop ball size per node over the "
    "thresholded co-ship graph: |N(v) ∪ N²(v)| — the influence/"
    "blast-radius number (how much of the graph a node's failure "
    "touches in two steps); one wedge self-join + distinct, the L11 "
    "enumeration posture with the same hub bounds)",
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct nodes reachable within 2 hops from each node (excluding
    itself): direct neighbors unioned with wedge endpoints, distinct,
    counted. High reach = structural hub whose outage cascades.

    Scale shape: the wedge join is the L9/L11 self-join on the
    checkpointed thresholded adjacency (wedge volume bounded by the
    same hub arguments); UNION-distinct collapses to the (s1, s2) key
    before the |V|-sized count. No new exchange patterns."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    # r14: (a) explosion-width pin on the wedge self-join (see fan_parts —
    # un-pinned, AQE ran the Σ deg² ≈ 155M-row wedge generation in ONE
    # task); (b) UNORDERED enumeration: the adjacency is symmetric, so the
    # 2-hop ball relation is symmetric — (v, b) is reachable iff (b, v) is.
    # Enumerating only v < b halves the wedge rows surviving to the
    # distinct, and each distinct unordered pair then credits BOTH
    # endpoints' counts. Identical result: |{w != v : w in ball(v)}| =
    # #unordered ball pairs containing v.
    n = fan_parts(spark)
    e1 = adj.select(F.col("s1").alias("v"), F.col("s2").alias("a")).repartition(n, "a")
    e2 = adj.select(F.col("s1").alias("a"), F.col("s2").alias("b")).repartition(n, "a")
    wedge = (
        e1.join(e2, "a")
        .where(F.col("v") < F.col("b"))
        .select(F.col("v").alias("s1"), F.col("b").alias("s2"))
    )
    adj_u = adj.where(F.col("s1") < F.col("s2")).select("s1", "s2")
    ball_u = adj_u.unionByName(wedge).distinct()
    ends = ball_u.select(F.col("s1").alias("suppkey")).unionByName(
        ball_u.select(F.col("s2").alias("suppkey"))
    )
    return ends.groupBy("suppkey").agg(
        F.count("*").cast("bigint").alias("reach_2hop")
    )


@query(
    "graph_two_hop_reach_hll",
    oracle=None,  # HLL estimate ≠ exact → rows-only; ±5% law in tests
    ref="SURVEY §2 L14 [EXT] (production two-hop reach — HyperBall, Boldi "
    "& Vigna 2013: per-node HLL sketch of N(v), one edge-keyed merge round "
    "gives |N(v) ∪ N²(v)| as a mergeable-sketch estimate in O(|E|) sketch "
    "traffic with NO wedge self-join at all; law in test_properties.py "
    "pins every node's estimate within ±5%% of graph_two_hop_reach's "
    "exact count)",
    tags=("rows_only_by_design",),
)
def graph_two_hop_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach per node, estimated HyperBall-style: build an HLL
    sketch of each node's neighbor set (one hash agg), then for every edge
    (v, u) ship sketch(N(u)) to v and union it with sketch(N(v)) (one more
    hash agg — partial unions combine map-side, so the exchange carries at
    most |V|·partitions sketches, never |E|). The symmetric adjacency
    guarantees v ∈ N(N(v)), so reach = round(estimate) - 1 reverses the
    exact entry's self-exclusion.

    Scale shape — why this is the 100 TB form of L14: cost is LINEAR in
    edges with a constant-size (Datasketches HLL, default lgK=12, RSE
    ~0.8%) state per node, where the exact wedge self-join is Σ deg²
    (probe: 162 s exact vs seconds here). Iterating the merge round k
    times gives k-hop balls — the HyperBall algorithm verbatim."""
    li = load(spark, sf_dir, "lineitem")
    # LAZY adjacency pin (VERDICT r11): build time stays job-free for
    # single-plan consumers; the first consuming action materializes the
    # corpus-derived edge list ONCE and every later branch/iteration
    # reuses the checkpointed RDD (no re-scan).
    adj = _weighted_adj(li).transform(pin_invariant)
    # LAZY pin (r14, guide §1.2 step 1): own feeds BOTH the edge-ship join
    # and the merge union — un-pinned, the |E|-row sketch aggregation over
    # the pinned adjacency executed twice per plan. The pinned payload is
    # |V| rows × one constant-size HLL sketch.
    own = pin(
        adj.groupBy("s1").agg(F.hll_sketch_agg("s2").alias("sk")),
        eager=False,
    )
    # ship each neighbor's sketch to v: edge (v, u) ⋈ own(u)
    shipped = adj.join(
        own.select(F.col("s1").alias("s2"), "sk"), "s2"
    ).select("s1", "sk")
    merged = (
        own.select("s1", "sk")
        .unionByName(shipped)
        .groupBy("s1")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    return merged.select(
        F.col("s1").alias("suppkey"),
        (F.round(F.col("est")).cast("bigint") - F.lit(1)).alias("reach_2hop_est"),
    )


def _katz_oracle() -> str:
    """Unrolled Katz path-count CTEs: p_k(v) = Σ_u A[u, v]·p_{k-1}(u)
    with p_0 = 1 — exact integers, so katz = Σ β^k p_k is pure decimal
    arithmetic over them (β = 0.1 → powers of ten)."""
    return """
    WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    adj AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM e0 a JOIN e0 b ON a.p = b.p AND a.s <> b.s
    ),
    nodes AS (SELECT DISTINCT s1 AS v FROM adj),
    p1 AS (
        SELECT s2 AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM adj GROUP BY s2
    ),
    p2 AS (
        SELECT adj.s2 AS v, CAST(SUM(p1.c) AS BIGINT) AS c
        FROM p1 JOIN adj ON adj.s1 = p1.v GROUP BY adj.s2
    ),
    p3 AS (
        SELECT adj.s2 AS v, CAST(SUM(p2.c) AS BIGINT) AS c
        FROM p2 JOIN adj ON adj.s1 = p2.v GROUP BY adj.s2
    )
    SELECT n.v AS suppkey,
           CAST(COALESCE(p1.c, 0) AS BIGINT) AS paths_1,
           CAST(COALESCE(p2.c, 0) AS BIGINT) AS paths_2,
           CAST(COALESCE(p3.c, 0) AS BIGINT) AS paths_3,
           CAST(trunc((COALESCE(p1.c, 0) / 10.0
                       + COALESCE(p2.c, 0) / 100.0
                       + COALESCE(p3.c, 0) / 1000.0)
                * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS katz
    FROM nodes n
    LEFT JOIN p1 ON p1.v = n.v
    LEFT JOIN p2 ON p2.v = n.v
    LEFT JOIN p3 ON p3.v = n.v
    """


@query(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    ref="SURVEY §2 L15 [EXT] (Katz centrality, 3-term truncation: "
    "katz(v) = Σ_k β^k · |paths of length k ending at v|, β = 0.1 — "
    "the attenuation-weighted walk count that credits distant "
    "influence where L6's degree sees one hop and L3's PageRank "
    "normalizes it away; path counts are EXACT integers so the "
    "truncated series is pure decimal arithmetic)",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality truncated at 3 hops over the co-ship graph:
    exact walk counts per length via repeated adjacency joins (each
    round one keyed equi-join + sum re-agg — the L7 relaxation shape),
    combined as p1/10 + p2/100 + p3/1000. Integer path counts make
    every round engine-exact; the single division chain quantizes
    once.

    Scale shape: per round ONE join of the O(|V|) count vector against
    the checkpointed adjacency on the source key + a destination-keyed
    re-agg; localCheckpoint truncates lineage per round. Walk counts
    grow ~deg^k — at 3 rounds and bounded degree they sit far inside
    bigint."""
    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li, checkpoint=True)
    # LAZY pin (r14): `nodes` seeds the walk vector AND left-joins each of
    # the 3 per-length count vectors in the final assembly — 4 instances,
    # each an un-shared distinct exchange over the pinned edge RDD.
    nodes = pin(adj.select(F.col("s1").alias("v")).distinct(), eager=False)
    p = nodes.select("v", F.lit(1).cast("bigint").alias("c"))
    counts = []
    for _ in range(3):
        p = (
            p.join(adj, p.v == adj.s1)
            .groupBy(F.col("s2").alias("v"))
            .agg(F.sum("c").cast("bigint").alias("c"))
            .transform(pin, eager=False)
        )
        counts.append(p)
    out = nodes
    for i, pk in enumerate(counts, start=1):
        out = out.join(
            pk.withColumnRenamed("c", f"p{i}"), "v", "left"
        )
    c1 = F.coalesce(F.col("p1"), F.lit(0))
    c2 = F.coalesce(F.col("p2"), F.lit(0))
    c3 = F.coalesce(F.col("p3"), F.lit(0))
    katz = c1 / 10.0 + c2 / 100.0 + c3 / 1000.0
    return out.select(
        F.col("v").alias("suppkey"),
        c1.cast("bigint").alias("paths_1"),
        c2.cast("bigint").alias("paths_2"),
        c3.cast("bigint").alias("paths_3"),
        ((katz * 1000000 + F.lit(0.5)).cast("long").cast("double") / 1000000.0)
        .alias("katz"),
    )


# ---------------------------------------------------------------------------
# L16 — personalized PageRank (topic-sensitive restart over a seed set)
# ---------------------------------------------------------------------------

_PPR_ALPHA = 0.85  # follow probability; 1-alpha teleports back to the seeds
# Oracle literals are CAST AS DOUBLE: DuckDB parses bare 0.85 as DECIMAL,
# making (1.0 - 0.85)/scnt exact where Python/Spark does IEEE doubles —
# the seed restart term would differ in the last ulp.
_PPR_SEED_MOD = 50  # seeds: suppkey % 50 == 0 (a handful at every SF)


def _ppr_oracle() -> str:
    from ksql_spark.registry import sql_dsum

    head = f"""
    WITH adjx AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey <> b.l_suppkey
    ),
    nodes AS (
        SELECT s1 AS v FROM adjx UNION SELECT s2 FROM adjx
    ),
    seeds AS (SELECT v FROM nodes WHERE v % {_PPR_SEED_MOD} = 0),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS scnt FROM seeds),
    deg AS (SELECT s1, CAST(COUNT(*) AS BIGINT) AS outd FROM adjx GROUP BY s1),
    pr0 AS (
        SELECT nodes.v,
               CASE WHEN nodes.v % {_PPR_SEED_MOD} = 0
                    THEN CAST(1.0 AS DOUBLE) / scnt ELSE 0.0 END AS pr
        FROM nodes CROSS JOIN ns
    )
    """
    for t in range(1, _PR_ITERS + 1):
        head += f""",
    contrib{t} AS (
        SELECT adjx.s2 AS v, {sql_dsum(f'pr{t-1}.pr / deg.outd')} AS c
        FROM adjx
        JOIN pr{t-1} ON adjx.s1 = pr{t-1}.v
        JOIN deg ON adjx.s1 = deg.s1
        GROUP BY adjx.s2
    ),
    pr{t} AS (
        SELECT nodes.v,
               CASE WHEN nodes.v % {_PPR_SEED_MOD} = 0
                    THEN (CAST(1.0 AS DOUBLE) - CAST({_PPR_ALPHA} AS DOUBLE))
                         / scnt ELSE 0.0 END
               + CAST({_PPR_ALPHA} AS DOUBLE) * COALESCE(contrib{t}.c, 0.0)
                   AS pr
        FROM nodes CROSS JOIN ns LEFT JOIN contrib{t} ON nodes.v = contrib{t}.v
    )
    """
    return (
        head
        + f"SELECT v AS suppkey, pr AS ppr FROM pr{_PR_ITERS} WHERE pr > 0.0"
    )


@query(
    "graph_ppr",
    oracle=_ppr_oracle(),
    ref="SURVEY §2 L16 [EXT] (personalized PageRank: restart mass "
    "concentrated on a seed set instead of uniform teleport — "
    "topic-sensitive proximity, Haveliwala 2002; the "
    "recommendation/similar-entities companion to L3's global rank)",
)
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration personalized PageRank on the supplier co-part graph:
    probability mass starts on the seed suppliers (suppkey % 50 == 0) and
    teleports back only to them, so scores measure proximity TO the seed
    set rather than global centrality. Zero-mass nodes are dropped (at 3
    iterations that is everything farther than 3 hops from a seed).

    Scale shape: identical to graph_pagerank — per iteration one
    source-keyed join + one destination-keyed hash agg, loop over PLANS
    not data, adjacency checkpointed once. The seed-restart vector is a
    column expression (v % mod), never a driver-side list, so a
    million-seed personalization costs the same as one. The seed COUNT
    is a lazily-pinned broadcast 1-row aggregate (the D55/D68 posture,
    ADVICE r9) — no job runs at plan-build time, and an empty seed set
    degrades to an empty result instead of a Python ZeroDivisionError
    (the division sits behind the is_seed branch, never taken when no
    seed exists; the oracle's CASE is lazy the same way).

    Determinism: per-iteration contribution sums quantized (registry
    dsum), matching the unrolled-CTE oracle bitwise."""
    from ksql_spark.operators.scale import pin
    from ksql_spark.registry import dsum

    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li, checkpoint=True)
    # LAZY pins (r14, same as graph_pagerank): `nodes` appears 4x in the
    # unrolled plan (init + every iteration's left join), `deg` 3x (every
    # contribution join) — un-pinned, each instance re-runs its
    # union+distinct exchange / |E|-row aggregation over the pinned edge
    # RDD. Both payloads are O(|V|).
    nodes = pin(
        adj.select(F.col("s1").alias("v"))
        .union(adj.select(F.col("s2").alias("v")))
        .distinct(),
        eager=False,
    )
    deg = pin(adj.groupBy("s1").agg(F.count("*").alias("outd")), eager=False)
    is_seed = F.col("v") % _PPR_SEED_MOD == 0
    ns = pin(
        nodes.where(is_seed).agg(
            F.count(F.lit(1)).cast("bigint").alias("scnt")
        ),
        eager=False,
    )
    scnt = F.col("scnt").cast("double")
    pr = nodes.crossJoin(F.broadcast(ns)).select(
        "v",
        F.when(is_seed, F.lit(1.0) / scnt).otherwise(F.lit(0.0)).alias("pr"),
    )
    for _ in range(_PR_ITERS):
        contrib = (
            adj.join(pr, adj["s1"] == pr["v"])
            .join(deg, "s1")
            .groupBy(F.col("s2").alias("cv"))
            .agg(dsum(F.col("pr") / F.col("outd")).alias("c"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(ns))
            .join(contrib, nodes["v"] == contrib["cv"], "left")
            .select(
                "v",
                (
                    F.when(
                        is_seed, F.lit(1.0 - _PPR_ALPHA) / scnt
                    ).otherwise(F.lit(0.0))
                    + F.lit(_PPR_ALPHA) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.where(F.col("pr") > 0.0).select(
        F.col("v").alias("suppkey"), F.col("pr").alias("ppr")
    )


# ---------------------------------------------------------------------------
# L17 — Newman modularity of the nation partition (round-10 wave)
# ---------------------------------------------------------------------------

@query(
    "graph_modularity",
    oracle="""
    WITH adj AS (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey <> b.l_suppkey
    ),
    e AS (
        SELECT sa.s_nationkey AS c1, sb.s_nationkey AS c2
        FROM adj JOIN supplier sa ON sa.s_suppkey = adj.s1
                 JOIN supplier sb ON sb.s_suppkey = adj.s2
    ),
    percomm AS (
        SELECT c1 AS nationkey,
               CAST(SUM(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS internal_edges,
               CAST(COUNT(*) AS BIGINT) AS degree_sum
        FROM e GROUP BY c1
    ),
    m AS (SELECT CAST(SUM(degree_sum) AS BIGINT) AS m2 FROM percomm)
    SELECT nationkey, internal_edges, degree_sum,
           CAST(trunc((internal_edges * 1.0 / m2
                       - (degree_sum * 1.0 / m2) * (degree_sum * 1.0 / m2))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS q_contrib
    FROM percomm CROSS JOIN m
    """,
    ref="SURVEY §2 L17 [EXT] (Newman-Girvan modularity Q = sum_c [e_c/2m "
    "- (d_c/2m)^2] (Newman 2004) of the supplier-nation partition on "
    "the co-ship graph — 'is geography a community structure?'; one "
    "pass over the shared L-family adjacency, per-community cells "
    "bounded by |nations|)",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the nation partition on the supplier co-ship graph:
    per community c, q_contrib = e_c/2m - (d_c/2m)^2 where e_c counts
    (directed) within-community edges, d_c the community's degree sum,
    and 2m all directed edges; Q = sum of contributions (pinned in
    test_estimation's bounds check: Q in [-1, 1), and the sum telescopes
    so sum(degree_sum) == 2m exactly).

    Scale shape: the adjacency build is the shared L-family floor (the
    one |lineitem| self-join, distinct-reduced); the community lookup
    joins the SF-proportional supplier map twice un-hinted (AQE
    broadcasts while it fits); everything after is one c1-keyed
    aggregation to |nations| rows plus a broadcast 1-row total. No
    edge-level window, no second corpus scan — 2m comes from summing the
    bounded per-community degree cells, not re-counting edges."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    adj = coship_adj(li, exclude_self=True)
    sa = sup.select(
        F.col("s_suppkey").alias("k1"), F.col("s_nationkey").alias("c1")
    )
    sb = sup.select(
        F.col("s_suppkey").alias("k2"), F.col("s_nationkey").alias("c2")
    )
    e = adj.join(sa, adj.s1 == sa.k1).join(sb, adj.s2 == sb.k2)
    percomm = (
        e.groupBy(F.col("c1").alias("nationkey"))
        .agg(
            F.sum(F.when(F.col("c1") == F.col("c2"), 1).otherwise(0))
            .cast("bigint")
            .alias("internal_edges"),
            F.count(F.lit(1)).cast("bigint").alias("degree_sum"),
        )
        .transform(pin_invariant)
    )
    m = percomm.agg(F.sum("degree_sum").cast("bigint").alias("m2"))
    q = (
        F.col("internal_edges") * F.lit(1.0) / F.col("m2")
        - (F.col("degree_sum") * F.lit(1.0) / F.col("m2"))
        * (F.col("degree_sum") * F.lit(1.0) / F.col("m2"))
    )
    return (
        percomm.crossJoin(F.broadcast(m))
        .select(
            "nationkey",
            "internal_edges",
            "degree_sum",
            ((q * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1000000.0))
            .alias("q_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# L18 — rich-club coefficient ladder (round-10 wave)
# ---------------------------------------------------------------------------

_RICH_CLUB_KS = (2, 4, 8, 16, 32, 64)


def _rich_club_oracle() -> str:
    ladder = " UNION ALL ".join(f"SELECT {k} AS k" for k in _RICH_CLUB_KS)
    return f"""
    WITH adj AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey <> b.l_suppkey
    ),
    deg AS MATERIALIZED (
        SELECT s1 AS v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY s1
    ),
    ladder AS ({ladder}),
    nodes_k AS (
        SELECT l.k, CAST(SUM(CASE WHEN deg.d > l.k THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_nodes
        FROM deg CROSS JOIN ladder l GROUP BY l.k
    ),
    edges_k AS (
        SELECT l.k,
               CAST(SUM(CASE WHEN least(da.d, db.d) > l.k THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_edges
        FROM adj JOIN deg da ON da.v = adj.s1
                 JOIN deg db ON db.v = adj.s2
        CROSS JOIN ladder l
        GROUP BY l.k
    )
    SELECT nodes_k.k, nodes_k.n_nodes, edges_k.n_edges,
           CAST(trunc(edges_k.n_edges * 1.0
                      / NULLIF(nodes_k.n_nodes * 1.0 * (nodes_k.n_nodes - 1),
                               0)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS phi
    FROM nodes_k JOIN edges_k ON edges_k.k = nodes_k.k
    """


@query(
    "graph_rich_club",
    oracle=_rich_club_oracle(),
    ref="SURVEY §2 L18 [EXT] (rich-club coefficient phi(k) = E_{>k} / "
    "(N_{>k}(N_{>k}-1)) over a degree ladder (Zhou & Mondragon 2004) — "
    "do the hubs preferentially interconnect?; one pass over the shared "
    "L-family adjacency with the degree table joined onto both "
    "endpoints, per-k cells by conditional aggregation, never a per-k "
    "rescan)",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient ladder on the supplier co-ship graph: for
    each degree threshold k, phi(k) = directed edges among nodes of
    degree > k, divided by the N(N-1) possible — phi growing with k
    means the hubs form a densely wired club (supply-chain
    concentration risk; the global complement of L11's local
    clustering). Degenerate clubs (N <= 1) yield NULL phi via NULLIF.

    Scale shape: the adjacency build is the shared L-family floor; the
    degree table (one s1-keyed agg) joins onto both edge endpoints
    un-hinted (supplier-bounded — AQE broadcasts while it fits); every
    threshold is a conditional sum over ONE pass of the edge list
    (ladder crossed as a broadcast 6-row literal), so adding thresholds
    costs arithmetic, not scans."""
    li = load(spark, sf_dir, "lineitem")
    adj = coship_adj(li, exclude_self=True).transform(pin_invariant)
    deg = adj.groupBy(F.col("s1").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).transform(pin_invariant)
    ladder = spark.createDataFrame(
        [(k,) for k in _RICH_CLUB_KS], "k int"
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(ladder))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("d") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nodes")
        )
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("db"))
    edges_k = (
        adj.join(da, adj.s1 == da.va)
        .join(db, adj.s2 == db.vb)
        .crossJoin(F.broadcast(ladder))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.least(F.col("da"), F.col("db")) > F.col("k"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_edges")
        )
    )
    phi = F.col("n_edges") * F.lit(1.0) / F.nullif(
        F.col("n_nodes") * F.lit(1.0) * (F.col("n_nodes") - 1), F.lit(0.0)
    )
    return (
        nodes_k.join(edges_k, "k")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            ((phi * F.lit(1000000.0) + F.lit(0.5)).cast("long")
             / F.lit(1000000.0)).alias("phi"),
        )
    )


_DS_DEPTH = 6  # eccentricity cap per sweep (the coship graph is dense/shallow)


@query(
    "graph_diameter_doublesweep",
    oracle=f"""
    WITH RECURSIVE adj AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
    ), reach1(suppkey, d) AS (
        SELECT CAST({_START} AS BIGINT), 0
        UNION
        SELECT adj.s2, r.d + 1
        FROM reach1 r JOIN adj ON adj.s1 = r.suppkey
        WHERE r.d < {_DS_DEPTH}
    ), lev1 AS (
        SELECT suppkey, CAST(MIN(d) AS INT) AS depth
        FROM reach1 GROUP BY suppkey
    ), pick AS (
        SELECT suppkey AS u, depth AS ecc1 FROM lev1
        ORDER BY depth DESC, suppkey ASC LIMIT 1
    ), reach2(suppkey, d) AS (
        SELECT u, 0 FROM pick
        UNION
        SELECT adj.s2, r.d + 1
        FROM reach2 r JOIN adj ON adj.s1 = r.suppkey
        WHERE r.d < {_DS_DEPTH}
    ), lev2 AS (
        SELECT suppkey, CAST(MIN(d) AS INT) AS depth
        FROM reach2 GROUP BY suppkey
    )
    SELECT CAST({_START} AS BIGINT) AS start_node,
           (SELECT CAST(ecc1 AS INT) FROM pick) AS sweep1_ecc,
           (SELECT CAST(u AS BIGINT) FROM pick) AS u_node,
           CAST(MAX(depth) AS INT) AS diameter_lb,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM lev2
    """,
    ref="SURVEY §2 L19 [EXT] (diameter lower bound by BFS double sweep "
    "(Magnien, Latapy & Habib 2009): sweep 1 from the fixed root finds "
    "the farthest node u (TakeOrdered 1 row — depth DESC, suppkey ASC), "
    "sweep 2 from u reports its eccentricity — on real graphs this lower "
    "bound is usually the exact diameter at the cost of TWO BFS runs "
    "instead of all-pairs; both sweeps capped at depth 6, the second "
    "seeded by a 1-row DataFrame so no job runs at plan-build time)",
)
def graph_diameter_doublesweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by the classic double sweep: BFS from
    the root, hop to the farthest node found, BFS again — the second
    eccentricity bounds the diameter from below (and on most real
    topologies equals it). Within the root's component only, both sweeps
    depth-capped (the coship graph's diameter is small; a capped sweep is
    the honest spelling of 'eccentricity at most D').

    Scale shape: exactly two frontier-BFS runs over the ONE pinned
    adjacency (min_relax with unit weights; per level one join + min
    re-agg, state O(nodes)); the sweep-2 seed is the TakeOrdered 1-row
    plan, so the choice of u never touches the driver."""
    li = load(spark, sf_dir, "lineitem")
    adj = pin_invariant(coship_adj(li, exclude_self=False))
    lev1 = bfs(spark, adj, _START, _DS_DEPTH)
    pick = (
        lev1.orderBy(F.col("depth").desc(), F.col("suppkey").asc())
        .limit(1)
        .select(
            F.col("suppkey").alias("u"),
            F.col("depth").cast("int").alias("ecc1"),
        )
        .transform(pin, eager=False)
    )
    start2 = pick.select(
        F.col("u").alias("suppkey"), F.lit(0).cast("int").alias("depth")
    )
    lev2, _ = min_relax(
        start2, adj, ["suppkey"], F.lit(1), _DS_DEPTH, broadcast=True
    )
    agg2 = lev2.agg(
        F.max("depth").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
    )
    return (
        pick.crossJoin(F.broadcast(agg2))
        .select(
            F.lit(_START).cast("bigint").alias("start_node"),
            F.col("ecc1").cast("int").alias("sweep1_ecc"),
            F.col("u").cast("bigint").alias("u_node"),
            "diameter_lb",
            "n_reached",
        )
    )


# ---------------------------------------------------------------------------
# L20 — HITS hubs & authorities (round 11)
# ---------------------------------------------------------------------------

_HITS_ITERS = 4


def _hits_oracle() -> str:
    from ksql_spark.registry import sql_dsum

    head = """
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    sups AS (SELECT DISTINCT s FROM edges),
    h0 AS (SELECT s, 1.0 AS h FROM sups)
    """
    for t in range(1, _HITS_ITERS + 1):
        head += f""",
    araw{t} AS MATERIALIZED (
        SELECT edges.p, {sql_dsum(f'h{t-1}.h')} AS c
        FROM edges JOIN h{t-1} ON edges.s = h{t-1}.s
        GROUP BY edges.p
    ),
    a{t} AS MATERIALIZED (
        SELECT p, c / NULLIF((SELECT {sql_dsum('c')} FROM araw{t}), 0) AS a
        FROM araw{t}
    ),
    hraw{t} AS MATERIALIZED (
        SELECT edges.s, {sql_dsum(f'a{t}.a')} AS c
        FROM edges JOIN a{t} ON edges.p = a{t}.p
        GROUP BY edges.s
    ),
    h{t} AS MATERIALIZED (
        SELECT s, c / NULLIF((SELECT {sql_dsum('c')} FROM hraw{t}), 0) AS h
        FROM hraw{t}
    )
    """
    return head + f"""
    SELECT s AS suppkey,
           CAST(trunc(h * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS hub
    FROM h{_HITS_ITERS}
    """


def _hits_contrib(
    edges: DataFrame, score: DataFrame, key: str, other: str, val: str
) -> DataFrame:
    """One HITS half-step contribution: ship the score vector across the
    bipartite edges and dsum it on the other side's key (both half-steps
    of every iteration)."""
    from ksql_spark.registry import dsum

    return edges.join(score, key).groupBy(other).agg(dsum(val).alias("c"))


@query(
    "graph_hits",
    oracle=_hits_oracle(),
    ref="SURVEY §2 L20 [EXT] (HITS hubs & authorities, Kleinberg 1999: "
    "4 dual power iterations a <- E'h, h <- Ea with L1 normalization "
    "per half-step on the BIPARTITE supplier->part supply graph — the "
    "two-sided centrality the symmetric-coship PageRank family cannot "
    "express (on an undirected graph HITS degenerates to one "
    "eigenvector; the bipartite supply graph is its natural home: hub "
    "= supplier whose catalog concentrates on authoritative parts, "
    "authority = part stocked by strong hubs))",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier hub scores after 4 HITS iterations over the distinct
    (supplier, part) supply edges: authority(p) = Σ hub(s) over suppliers
    of p, hub(s) = Σ authority(p) over parts of s, each half-step
    L1-normalized so scores stay O(1) (unnormalized HITS overflows
    geometrically — Kleinberg's normalization is load-bearing, not
    cosmetic). Returns every supplier with its final hub score.

    Scale shape: per half-step ONE keyed equi-join of the score vector
    against the checkpointed edge list + a re-agg on the other side's key
    (the L7/Katz relaxation shape — at 100 TB the edge list is bucketed
    on both keys so every iteration's join co-locates); score vectors are
    vertex-bounded and pinned per round (the class-(d) loop-over-plans
    device), iteration count fixed at 4, so the driver loops over PLANS,
    never data.

    Determinism: contribution sums ride dsum (quantized scaled-long);
    the L1 normalizer is itself a dsum scalar, so the per-row division
    is identical IEEE in both engines; one final 1e-6 quantization."""
    from ksql_spark.registry import dsum

    li = load(spark, sf_dir, "lineitem")
    # lazy pin (VERDICT r11): iteration 1's first action materializes the
    # edge list once; rounds 2..4 reuse the checkpointed RDD
    edges = pin(
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).distinct(),
        eager=False,
    )
    h = edges.select("s").distinct().select("s", F.lit(1.0).alias("h"))
    for _ in range(_HITS_ITERS):
        araw = _hits_contrib(edges, h, "s", "p", "h").transform(
            pin, eager=False
        )
        asum = araw.agg(dsum("c").alias("t"))
        a = araw.crossJoin(F.broadcast(asum)).select(
            "p", (F.col("c") / F.nullif(F.col("t"), F.lit(0.0))).alias("a")
        )
        hraw = _hits_contrib(edges, a, "p", "s", "a").transform(
            pin, eager=False
        )
        hsum = hraw.agg(dsum("c").alias("t"))
        h = hraw.crossJoin(F.broadcast(hsum)).select(
            "s", (F.col("c") / F.nullif(F.col("t"), F.lit(0.0))).alias("h")
        )
    return h.select(
        F.col("s").alias("suppkey"),
        (
            (F.col("h") * 1000000 + F.lit(0.5)).cast("long").cast("double")
            / 1000000.0
        ).alias("hub"),
    )


# ---------------------------------------------------------------------------
# L21 — landmark closeness centrality estimate (round 12)
# ---------------------------------------------------------------------------


@query(
    "graph_closeness_landmarks",
    oracle=_landmark_oracle(
        final_select=f"""
    SELECT s AS suppkey,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           CAST(trunc({len(_LANDMARKS)}.0 / NULLIF(SUM(dist), 0)
                * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS closeness_est
    FROM l{_LM_ROUNDS}
    GROUP BY s HAVING COUNT(*) = {len(_LANDMARKS)}
    """,
    ),
    ref="SURVEY §2 L21 [EXT] (landmark closeness centrality estimate "
    "(Eppstein & Wang 2004: average distance to k random pivots "
    "estimates average distance to ALL nodes within O(sqrt(log n / n)) "
    "with high probability): closeness_est(v) = k / Σ_i d(v, l_i) over "
    "L13's landmark distance sketch — the centrality ladder's missing "
    "member beside degree (L6), PageRank (L3), Katz (L15), and HITS "
    "(L20), at k·BFS cost instead of the exact all-pairs O(n·m))",
)
def graph_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate closeness centrality per supplier: k / Σ distances to
    the 4 landmark pivots, over the SAME multi-source bounded-round BFS
    state as graph_landmark_distances (one traversal, state keyed
    (landmark, node)). Only nodes reached by ALL landmarks within the
    round horizon report (the estimator is undefined on partial sums —
    documented truncation, same horizon as L13).

    Scale shape: exactly L13 (per round one state⋈adjacency equi-join +
    min re-agg; loop over plans) plus ONE node-keyed count/sum agg.
    Estimate quantizes at 1e-6; sums are exact integers."""
    d = graph_landmark_distances(spark, sf_dir)
    return (
        d.groupBy("suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lm"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
        .where(F.col("n_lm") == len(_LANDMARKS))
        .select(
            "suppkey",
            "sum_dist",
            (
                (
                    F.lit(float(len(_LANDMARKS)))
                    / F.nullif(F.col("sum_dist").cast("double"), F.lit(0.0))
                    * 1000000
                    + F.lit(0.5)
                )
                .cast("long")
                .cast("double")
                / 1000000.0
            ).alias("closeness_est"),
        )
    )


# ---------------------------------------------------------------------------
# L22 — k-truss decomposition round (round 12)
# ---------------------------------------------------------------------------

_TRUSS_K = 4  # keep edges in >= k-2 = 2 triangles
_TRUSS_ROUNDS = 2


def _truss_oracle() -> str:
    """Unrolled k-truss peeling over the hub-pruned (<= 5 suppliers/part)
    ordered co-ship adjacency — the L5 triangle wedge spelled per edge,
    chained _TRUSS_ROUNDS times."""
    head = """
    WITH e0 AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), keep AS (
        SELECT p FROM e0 GROUP BY p HAVING COUNT(*) <= 5
    ), inc AS (
        SELECT s, e0.p FROM e0 JOIN keep USING (p)
    ), t0 AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM inc a JOIN inc b USING (p)
        WHERE a.s < b.s
    )"""
    for i in range(_TRUSS_ROUNDS):
        head += f""",
    adj{i} AS (
        SELECT s1, s2 FROM t{i}
        UNION ALL
        SELECT s2 AS s1, s1 AS s2 FROM t{i}
    ),
    supp{i} AS (
        SELECT e.s1, e.s2, CAST(COUNT(*) AS BIGINT) AS support
        FROM t{i} e
        JOIN adj{i} a ON a.s1 = e.s1
        JOIN adj{i} b ON b.s1 = e.s2 AND b.s2 = a.s2
        GROUP BY e.s1, e.s2
    ),
    t{i + 1} AS (
        SELECT s1, s2 FROM supp{i} WHERE support >= {_TRUSS_K - 2}
    )"""
    head += f"""
    SELECT s1, s2, support FROM supp{_TRUSS_ROUNDS - 1}
    WHERE support >= {_TRUSS_K - 2}
    """
    return head


@query(
    "graph_ktruss",
    oracle=_truss_oracle(),
    ref="SURVEY §2 L22 [EXT] (k-truss decomposition (Cohen 2008): the "
    "EDGE-cohesion analog of L8's k-core — keep edges supported by >= "
    "k-2 triangles, iterate; a k-truss is a stronger community "
    "certificate than a k-core because membership requires shared "
    "neighbors, not just degree. Two peeling rounds at k=4 over the L5 "
    "hub-pruned ordered adjacency; surviving edges report their final "
    "support)",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss edges of the hub-pruned supplier co-ship graph after two
    peeling rounds: per round, each canonical edge (s1 < s2) counts its
    closing triangles via the L5 wedge join (shared neighbor w with
    both (s1,w) and (s2,w) present in the symmetric closure) and edges
    with support < 2 drop; survivors report (s1, s2, support).

    Scale shape: per round one symmetric-closure union (projection), two
    hash joins keyed on node ids (the L5/L11 wedge posture with the same
    <= 5-suppliers/part hub bound on wedge volume), one (s1, s2) hash
    agg, and a lazily-checkpointed survivor table (fixed rounds — the
    class-(e) working-set posture, no driver-side reads)."""
    li = load(spark, sf_dir, "lineitem")
    e0 = coship_pairs(li)
    keep = e0.groupBy("p").agg(F.count("*").alias("d")).where(F.col("d") <= 5)
    edges = (
        e0.join(keep.select("p"), "p")
        .join(
            e0.select(F.col("s1").alias("s2"), "p").join(
                keep.select("p"), "p"
            ),
            "p",
        )
        .where(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
        .transform(pin, eager=False)
    )
    supp = None
    for _ in range(_TRUSS_ROUNDS):
        sym = edges.unionByName(
            edges.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
        )
        a = sym.select(F.col("s1").alias("e1"), F.col("s2").alias("w"))
        b = sym.select(F.col("s1").alias("e2"), F.col("s2").alias("w"))
        supp = (
            edges.join(a, edges.s1 == a.e1)
            .join(b, (edges.s2 == b.e2) & (a.w == b.w))
            .groupBy(edges.s1, edges.s2)
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .where(F.col("support") >= _TRUSS_K - 2)
            .transform(pin, eager=False)
        )
        edges = supp.select("s1", "s2")
    return supp
