"""Graph operators — load/check/traverse (SURVEY.md §2.1 L1/L2/B1).

The reference stores adjacency as CSR pages: a ``firstNbr`` offset
array plus a packed ``Nbr`` array
(/root/reference/src/regtests/loadgraph_regtest.cpp:24-31).  CSR is a
*physical* layout for O(1) neighbor lookup on one machine; the Spark-
native equivalent is an ``edges(src, dst)`` DataFrame partitioned by
``src`` — neighbor lookup becomes a co-partitioned join, and the CSR
offset array is a prefix sum over per-source degrees (computed here,
so the load produces the same logical artifact the reference persists).

Traversals (BFS & friends) are data-dependent iteration — not one
Catalyst plan.  We run the Pregel pattern: a frontier DataFrame joined
against edges each round, anti-joined against the visited set, with
``localCheckpoint()`` per iteration to cut lineage (SURVEY.md §3.3).
Each round is a distributed join+shuffle, so a 1000-executor cluster
expands the whole frontier in parallel — the scalable analogue of the
reference's one-page-pin-at-a-time loop
(/root/reference/src/regtests/bfsgraph_regtest.cpp:44-104).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smile_spark.tables import table

# Offset keeping order-node ids disjoint from customer-node ids
# (FIXTURES.md §3: the derived deterministic edge view).
NODE_OFFSET = 100_000
# nation-node ids live in a third disjoint range
NATION_OFFSET = 200_000

# 25 deterministic sources spread across the customer-id domain
# (valid at every SF: ids 0..149 exist from sf0.001 up).  Mirrors the
# breadth of the reference's 100-random-source regression loop
# (/root/reference/src/regtests/bfsgraph_regtest.cpp:9,35) without its
# unseeded nondeterminism; all sources advance in ONE tagged frontier,
# so the cost is one traversal, not 25.
BFS_SOURCES = tuple(range(0, 150, 6))
# SSSP keeps the compact routing demo set: its oracle is a hop-capped
# recursion whose row count multiplies with sources × weights, and the
# multi-source machinery is already exercised by the 25-source BFS.
SSSP_SOURCES = (1, 7, 42)


def _values_sql(sources: Sequence[int]) -> str:
    """A source set as a SQL VALUES list — oracle recursions must seed
    from exactly the same ids as the Spark frontier."""
    return ", ".join(f"({s})" for s in sources)


def sources_values_sql() -> str:
    return _values_sql(BFS_SOURCES)
# Bellman-Ford rounds for sssp — relaxation over paths of ≤ k edges;
# mirrored exactly by the oracle's hop-capped recursion.
SSSP_ROUNDS = 4


def edges(
    spark: SparkSession, sf_dir: str, undirected: bool = False
) -> DataFrame:
    """The deterministic bipartite customer→order edge view.

    Mirrors the reference's edge-list input contract (sorted by source,
    /root/reference/src/regtests/loadgraph_regtest.cpp:14-23) — except
    sort order is irrelevant to a DataFrame; what matters at scale is
    partitioning by ``src`` so per-source operations don't shuffle.
    """
    o = table(spark, sf_dir, "orders")
    e = o.select(
        F.col("o_custkey").alias("src"),
        (F.lit(NODE_OFFSET) + F.col("o_orderkey")).alias("dst"),
    )
    if undirected:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return e


def graph_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: edge list → CSR-equivalent adjacency summary.

    Produces per source node: out-degree, first/last neighbor, and the
    CSR offset (prefix sum of degrees in src order) — the logical
    content of the reference's ``firstNbr[]`` page array
    (/root/reference/src/regtests/loadgraph_regtest.cpp:39-67).

    Scale note: the prefix sum is the classic TWO-LEVEL distributed
    form, not a global ordered window (which Spark executes in ONE
    partition — a driver-of-one-task bottleneck at 10⁹+ nodes):

    1. nodes are bucketed into contiguous ``src`` ranges (bucket id is
       a pure function of ``src``, so it is deterministic under
       recomputation — no ``spark_partition_id`` dependence);
    2. a per-bucket ordered window computes the running sum WITHIN each
       bucket — fully parallel across buckets;
    3. per-bucket totals (#buckets rows, trivially small at any scale)
       get their own exclusive prefix sum and broadcast-join back as
       the bucket base offset.

    ``csr_offset = bucket_base + within_bucket_running_sum``.  The only
    partition-less window runs over #buckets ≈ 4×parallelism rows.
    Node ids are assumed dense-ish (they index a CSR array in the
    reference, so they are by construction); the min/max probe is a
    one-row action.
    """
    e = edges(spark, sf_dir)
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.min("dst").alias("first_nbr"),
        F.max("dst").alias("last_nbr"),
    )
    n_buckets = spark.sparkContext.defaultParallelism * 4
    lohi = deg.agg(F.min("src"), F.max("src")).first()
    lo = lohi[0] if lohi[0] is not None else 0
    hi = lohi[1] if lohi[1] is not None else 0
    width = max(1, (hi - lo + n_buckets) // n_buckets)
    deg = deg.withColumn(
        "bkt", F.expr(f"(src - {lo}) div {width}")
    )
    w_local = (
        Window.partitionBy("bkt")
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_tot = deg.groupBy("bkt").agg(F.sum("out_degree").alias("btot"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bucket_base = bucket_tot.select(
        "bkt",
        F.coalesce(F.sum("btot").over(w_bkt), F.lit(0)).alias("bbase"),
    )
    return (
        deg.withColumn(
            "loff", F.coalesce(F.sum("out_degree").over(w_local), F.lit(0))
        )
        .join(F.broadcast(bucket_base), "bkt")
        .select(
            "src",
            "out_degree",
            "first_nbr",
            "last_nbr",
            (F.col("bbase") + F.col("loff")).cast("bigint").alias("csr_offset"),
        )
    )


def graph_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 metadata page: numNodes / numEdges / first & last edge node
    (/root/reference/src/regtests/loadgraph_regtest.cpp:24-31,70-113).
    Node universe = customers ∪ order-nodes; customers without orders
    are the reference's zero-degree ``firstNbr == 0`` case."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    n_cust = customer.agg(
        F.countDistinct("c_custkey").alias("n_cust")
    )
    meta = orders.agg(
        F.countDistinct("o_orderkey").alias("n_ord"),
        F.count(F.lit(1)).alias("num_edges"),
        F.min("o_custkey").alias("first_edge_node"),
        F.max("o_custkey").alias("last_edge_node"),
    )
    return n_cust.crossJoin(meta).select(
        (F.col("n_cust") + F.col("n_ord")).alias("num_nodes"),
        "num_edges",
        "first_edge_node",
        "last_edge_node",
    )


def graph_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: persist → reload → anti-join equivalence check.

    The reference re-reads its CSR pages and compares element-wise
    (/root/reference/src/regtests/loadgraph_regtest.cpp:142-233).  Our
    persisted form is parquet; equivalence is symmetric exceptAll —
    an order-insensitive, distributed comparison (no driver loop), the
    same shape at 60k rows and at 100 TB.
    """
    from smile_spark.session import scratch_dir

    e = edges(spark, sf_dir)
    out_dir = scratch_dir("smile_graph_check_")
    e.write.mode("overwrite").parquet(out_dir)
    persisted = spark.read.parquet(out_dir)
    mismatches = (
        persisted.exceptAll(e)
        .union(e.exceptAll(persisted))
        .agg(F.count(F.lit(1)).alias("mismatches"))
    )
    count = persisted.agg(F.count(F.lit(1)).alias("persisted_edges"))
    return count.crossJoin(mismatches)


# ---------------------------------------------------------------------------
# Iterative traversals (Pregel pattern)
# ---------------------------------------------------------------------------


def bfs_frontier(
    spark: SparkSession,
    e: DataFrame,
    sources: Sequence[int],
    max_iter: int = 20,
) -> DataFrame:
    """Multi-source BFS over an ``edges(src, dst)`` DataFrame.

    All sources advance in ONE frontier (a ``source`` column tags the
    tree), so each iteration is a single join — k sources cost one
    traversal, unlike the reference's 100 sequential runs
    (/root/reference/src/regtests/bfsgraph_regtest.cpp:35).
    Per round: frontier ⋈ edges → candidate dsts → distinct →
    anti-join visited → new frontier.  ``localCheckpoint`` cuts the
    lineage so plan size stays O(1) in iterations.
    Returns (source, id, dist) with the BFS (minimal) hop distance.
    """
    # Materialize the edge set once; every iteration re-joins against it
    # and must not re-derive it from the source scan each round.
    e = e.localCheckpoint()

    src_df = spark.createDataFrame(
        [(int(s),) for s in sources], "source bigint"
    ).select("source", F.col("source").alias("id"), F.lit(0).alias("dist"))

    from smile_spark.session import checkpoint_observed, unpersist_checkpoint

    visited = src_df.localCheckpoint()
    frontier = visited
    for it in range(1, max_iter + 1):
        nxt, seen = checkpoint_observed(
            frontier.join(e, frontier.id == e.src)
            .select("source", F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("source", "id"), ["source", "id"], "left_anti")
            .withColumn("dist", F.lit(it)),
            n=F.count(F.lit(1)),
        )
        # the previous frontier was fully consumed building nxt (and
        # its rows were already folded into visited last round) —
        # release its blocks instead of leaking one frame per hop
        # (cc_labels precedent; skip round 1, where frontier IS the
        # live visited set)
        if frontier is not visited:
            unpersist_checkpoint(frontier)
        frontier = nxt
        if seen["n"] == 0:
            break
        new_visited = visited.union(nxt).localCheckpoint()
        unpersist_checkpoint(visited)
        visited = new_visited
    # the returned distances live in visited's own checkpoint blocks;
    # the last frontier and the per-call edge materialization are
    # unreachable from them — release both instead of leaking one
    # frame pair per traversal (ADVICE r11 #3)
    if frontier is not visited:
        unpersist_checkpoint(frontier)
    unpersist_checkpoint(e)
    return visited


def bfs(
    spark: SparkSession,
    sf_dir: str,
    sources: Sequence[int] = BFS_SOURCES,
    max_iter: int = 20,
) -> DataFrame:
    """B1: BFS hop distances from the fixed deterministic source set
    (FIXTURES.md §3 — the reference's unseeded ``rand()`` sources are
    not semantics).  Edges are traversed undirected so multi-hop paths
    exist in the bipartite fixture graph."""
    e = edges(spark, sf_dir, undirected=True)
    return bfs_frontier(spark, e, sources, max_iter)


def bfs_sql() -> str:
    """Hop-capped recursive oracle seeded from BFS_SOURCES — the cap
    only needs to exceed the fixture graph's diameter (≤ 8; the Spark
    side iterates to an empty frontier, so both reach a fixpoint)."""
    return (
        "WITH RECURSIVE e AS ("
        "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst FROM orders"
        "  UNION ALL"
        "  SELECT 100000 + o_orderkey AS src, o_custkey AS dst FROM orders"
        "),"
        " walk(source, id, dist) AS ("
        "  SELECT CAST(s.source AS BIGINT), CAST(s.source AS BIGINT), 0"
        f"  FROM (VALUES {sources_values_sql()}) s(source)"
        "  UNION"
        "  SELECT w.source, e.dst, w.dist + 1"
        "  FROM walk w JOIN e ON e.src = w.id WHERE w.dist < 8"
        ") "
        "SELECT source, id, MIN(dist) AS dist FROM walk"
        " GROUP BY source, id"
    )


# ---------------------------------------------------------------------------
# Bucketed adjacency — the CSR physical layout, Spark-native
# ---------------------------------------------------------------------------

# one bucketed adjacency write per (application, sf_dir), same memo
# discipline as the orders/customer bucket pair
_EDGES_BUCKETED_READY: set[tuple[str, str]] = set()


def ensure_bucketed_edges(spark: SparkSession, sf_dir: str) -> str:
    """Persist the undirected edge view bucketed by ``src`` and sorted
    by ``(src, dst)`` — the durable analogue of the reference's CSR
    pages (``firstNbr[]`` + packed neighbor runs,
    /root/reference/src/regtests/loadgraph_regtest.cpp:24-31): all
    edges of one source live in one bucket, contiguous and sorted.
    Returns the catalog table name."""
    from smile_spark.sources.bucketed import (
        BUCKETED_N,
        bucket_table_name,
        drop_bucketed_table,
        write_bucketed,
    )

    tbl = bucket_table_name("bkt_edges", sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _EDGES_BUCKETED_READY:
        return tbl
    drop_bucketed_table(spark, tbl)
    write_bucketed(
        edges(spark, sf_dir, undirected=True),
        tbl,
        "src",
        n_buckets=BUCKETED_N,
        sort_cols=["src", "dst"],
    )
    _EDGES_BUCKETED_READY.add(key)
    return tbl


def graph_adjacency_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BFS round over the PERSISTED bucketed adjacency: seed set →
    distance-0 rows plus the distinct one-hop neighborhood at
    distance 1 — (source, id, dist), the same shape as ``bfs``.

    This is the CSR locality claim made physical: the source filter
    prunes the scan to only the buckets holding the frontier's sources
    (the plan shows ``SelectedBucketsCount``, the analogue of touching
    one ``firstNbr`` page run instead of the whole edge file), the
    frontier joins as a broadcast, and the edge side reaches the join
    with ZERO exchange.  At 100 TB the adjacency is bucketed once at
    ingest; every traversal round after that reads only the buckets its
    frontier touches and never re-shuffles the edge set.  The only
    shuffle in the round is the frontier-proportional dedupe of the
    expansion — the Pregel-round invariant."""
    from smile_spark.sources.bucketed import read_bucketed

    e = read_bucketed(spark, ensure_bucketed_edges(spark, sf_dir))
    src_df = spark.createDataFrame(
        [(int(s),) for s in BFS_SOURCES], "source bigint"
    )
    seed = src_df.select(
        "source",
        F.col("source").alias("id"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    hop1 = (
        e.filter(F.col("src").isin([int(s) for s in BFS_SOURCES]))
        .join(F.broadcast(src_df), F.col("src") == F.col("source"))
        .select("source", F.col("dst").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(1).cast("bigint"))
    )
    return seed.union(hop1)


def graph_adjacency_bucketed_sql() -> str:
    return (
        "WITH e AS ("
        "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst FROM orders"
        "  UNION ALL"
        "  SELECT 100000 + o_orderkey AS src, o_custkey AS dst FROM orders"
        "),"
        f" s(source) AS (VALUES {sources_values_sql()})"
        " SELECT CAST(source AS BIGINT) AS source,"
        "  CAST(source AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist FROM s"
        " UNION"
        " SELECT CAST(s.source AS BIGINT), CAST(e.dst AS BIGINT),"
        "  CAST(1 AS BIGINT)"
        " FROM s JOIN e ON e.src = s.source"
    )


def weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted undirected edge view for routing queries.

    customer↔order edges (weight from the order key) plus
    customer↔nation edges (weight from the customer key) — the nation
    hubs connect customers into per-nation components so shortest
    paths are genuinely multi-hop.  Integer weights keep distance
    arithmetic exact across engines.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    co = o.select(
        F.col("o_custkey").alias("src"),
        (F.lit(NODE_OFFSET) + F.col("o_orderkey")).alias("dst"),
        (F.col("o_orderkey") % 97 + 1).cast("bigint").alias("w"),
    )
    cn = c.select(
        F.col("c_custkey").alias("src"),
        (F.lit(NATION_OFFSET) + F.col("c_nationkey")).alias("dst"),
        (F.col("c_custkey") % 53 + 1).cast("bigint").alias("w"),
    )
    e = co.union(cn)
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def sssp(
    spark: SparkSession,
    sf_dir: str,
    sources: Sequence[int] = SSSP_SOURCES,
    rounds: int = SSSP_ROUNDS,
) -> DataFrame:
    """Weighted single-source shortest paths (multi-source, routing).

    The reference's README promises "graph database for routing" but
    ships only BFS (SURVEY.md §2.2); this supplies the weighted
    traversal.  Pregel/Bellman-Ford shape: each round relaxes every
    known distance across all edges (one join), takes the per-node MIN
    (one aggregate), and merges with the current state — after k
    rounds distances are exact over all paths of ≤ k edges, which is
    what the hop-capped recursive oracle computes.  Fixing the round
    count (vs. converging) keeps cross-engine semantics exact; at
    scale you'd iterate to fixpoint with the same per-round plan.

    Full relaxation is deliberate for the SHORT-round expanding
    regime benchmarked here; :func:`sssp_frontier` is the
    result-identical queue-based form whose per-round join shrinks
    with the frontier — the right variant for high-diameter graphs /
    the convergence tail (equivalence-tested; measured 2× slower at
    sf0.1's 4 expanding rounds, which is why it is not the default).
    Returns (source, id, dist).
    """
    e = weighted_edges(spark, sf_dir).localCheckpoint()
    dist = (
        spark.createDataFrame([(int(s),) for s in sources], "source bigint")
        .select("source", F.col("source").alias("id"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint()
    )
    from smile_spark.session import unpersist_checkpoint

    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist.id == e.src)
            .select("source", F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        new_dist = (
            dist.union(relaxed)
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        # the superseded round's table is folded into new_dist
        # (eagerly materialized) — release it (cc_labels precedent)
        unpersist_checkpoint(dist)
        dist = new_dist
    return dist


def sssp_frontier(
    spark: SparkSession,
    sf_dir: str,
    sources: Sequence[int] = SSSP_SOURCES,
    rounds: int = SSSP_ROUNDS,
) -> DataFrame:
    """Queue-based (frontier-limited) Bellman-Ford: each round relaxes
    ONLY the nodes whose distance improved last round.  A node
    improving via a longer prefix is still reached, because that
    prefix node sat in an earlier frontier — so after k rounds this is
    exactly min over ≤ k-edge walks, identical to :func:`sssp`
    (asserted in tests/test_graph.py).

    This is the form that wins when frontier ≪ |dist|: high-diameter
    graphs (road networks — the reference's routing domain) and the
    convergence tail of iterate-to-fixpoint runs, where full
    relaxation rescans every settled distance every round forever.
    The cost is one extra improvement anti-join per round, which is
    why the short-round expanding benchmark keeps full relaxation.
    Returns (source, id, dist).
    """
    e = weighted_edges(spark, sf_dir).localCheckpoint()
    dist = (
        spark.createDataFrame([(int(s),) for s in sources], "source bigint")
        .select(
            "source",
            F.col("source").alias("id"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint()
    )
    from smile_spark.session import unpersist_checkpoint

    frontier = dist
    for _ in range(rounds):
        candidates = (
            frontier.join(e, frontier.id == e.src)
            .select(
                "source",
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            candidates.alias("c")
            .join(
                dist.alias("d"),
                (F.col("c.source") == F.col("d.source"))
                & (F.col("c.id") == F.col("d.id")),
                "left",
            )
            .filter(
                F.col("d.dist").isNull()
                | (F.col("c.dist") < F.col("d.dist"))
            )
            .select(
                F.col("c.source").alias("source"),
                F.col("c.id").alias("id"),
                F.col("c.dist").alias("dist"),
            )
            .localCheckpoint()
        )
        # the previous frontier is consumed (skip round 1: it IS dist)
        if frontier is not dist:
            unpersist_checkpoint(frontier)
        new_dist = (
            dist.union(improved)
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        unpersist_checkpoint(dist)
        dist = new_dist
        frontier = improved
    return dist


def sssp_sql() -> str:
    return (
        "WITH RECURSIVE e AS ("
        "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst,"
        "   CAST(o_orderkey % 97 + 1 AS BIGINT) AS w FROM orders"
        "  UNION ALL"
        "  SELECT 100000 + o_orderkey, o_custkey,"
        "   CAST(o_orderkey % 97 + 1 AS BIGINT) FROM orders"
        "  UNION ALL"
        "  SELECT c_custkey, 200000 + c_nationkey,"
        "   CAST(c_custkey % 53 + 1 AS BIGINT) FROM customer"
        "  UNION ALL"
        "  SELECT 200000 + c_nationkey, c_custkey,"
        "   CAST(c_custkey % 53 + 1 AS BIGINT) FROM customer"
        "),"
        " walk(source, id, dist, hops) AS ("
        "  SELECT CAST(s.source AS BIGINT), CAST(s.source AS BIGINT),"
        "   CAST(0 AS BIGINT), 0"
        f"  FROM (VALUES {_values_sql(SSSP_SOURCES)}) s(source)"
        "  UNION"
        "  SELECT w.source, e.dst, w.dist + e.w, w.hops + 1"
        f"  FROM walk w JOIN e ON e.src = w.id WHERE w.hops < {SSSP_ROUNDS}"
        ") "
        "SELECT source, id, MIN(dist) AS dist FROM walk"
        " GROUP BY source, id"
    )


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85
PAGERANK_ROUND = 8


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = PAGERANK_ITERS,
) -> DataFrame:
    """PageRank over the undirected edge view (simplified: no dangling-
    mass redistribution — nodes without out-edges absorb rank, and the
    oracle does the same).

    Pregel shape per iteration: contributions = rank/degree pushed
    along edges (one join), summed per destination (one aggregate),
    then the damping update.  Ranks are ROUNDED to 8 digits at every
    iteration boundary in BOTH engines, so floating-point summation-
    order drift can never accumulate across iterations — the technique
    that makes an iterative float algorithm bit-comparable
    cross-engine.  Fixed iteration count (vs. convergence) for the
    same reason as sssp.  Returns (id, pr).
    """
    e = edges(spark, sf_dir, undirected=True)
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nodes = (
        customer.select(F.col("c_custkey").alias("id"))
        .union(
            orders.select((F.lit(NODE_OFFSET) + F.col("o_orderkey")).alias("id"))
        )
        # both legs are unique primary keys in disjoint id ranges, so
        # the union is already a set — no dedup exchange needed
        .localCheckpoint()
    )
    n = float(nodes.count())
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    ed = e.join(deg, "src").localCheckpoint()

    from smile_spark.session import unpersist_checkpoint

    pr = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    prev = None  # round 0 is a lazy select over nodes, not a checkpoint
    for _ in range(iterations):
        sums = (
            pr.join(ed, pr.id == ed.src)
            .select(F.col("dst").alias("id"), (F.col("pr") / F.col("d")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        pr = (
            nodes.join(sums, "id", "left")
            .select(
                "id",
                F.round(
                    0.15 / n + PAGERANK_DAMPING * F.coalesce("c", F.lit(0.0)),
                    PAGERANK_ROUND,
                ).alias("pr"),
            )
            .localCheckpoint()
        )
        # release the superseded round (cc_labels precedent)
        if prev is not None:
            unpersist_checkpoint(prev)
        prev = pr
    return pr


def pagerank_sql() -> str:
    """Unrolled oracle: one CTE per iteration, same rounding points."""
    prev = "it0"
    its = []
    for k in range(1, PAGERANK_ITERS + 1):
        its.append(
            f" it{k} AS (SELECT nodes.id,"
            f" ROUND(0.15 / n.n + {PAGERANK_DAMPING} * COALESCE(s.c, 0),"
            f" {PAGERANK_ROUND}) AS pr"
            " FROM nodes CROSS JOIN n LEFT JOIN ("
            f"  SELECT ed.dst AS id, SUM({prev}.pr / ed.d) AS c"
            f"  FROM {prev} JOIN ed ON ed.src = {prev}.id GROUP BY ed.dst"
            " ) s ON s.id = nodes.id)"
        )
        prev = f"it{k}"
    return (
        "WITH e AS ("
        "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst FROM orders"
        "  UNION ALL"
        "  SELECT 100000 + o_orderkey AS src, o_custkey AS dst FROM orders"
        "),"
        " nodes AS (SELECT c_custkey AS id FROM customer"
        "  UNION SELECT 100000 + o_orderkey FROM orders),"
        " n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),"
        " deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d"
        "  FROM e GROUP BY src),"
        " ed AS (SELECT e.src, e.dst, deg.d FROM e"
        "  JOIN deg ON deg.src = e.src),"
        " it0 AS (SELECT id, 1.0 / n.n AS pr FROM nodes CROSS JOIN n),"
        + ",".join(its)
        + f" SELECT id, pr FROM it{PAGERANK_ITERS}"
    )


def cc_labels(
    nodes: DataFrame, e: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Distributed connected-components core: min-label propagation
    with POINTER JUMPING over ``nodes(id)`` and undirected-expanded
    ``edges(src, dst)``.  Returns (id, component = min node id).

    Each round: (1) hook — every node takes the min of its own and its
    neighbors' labels (join + agg on ``src``, the Pregel shape);
    (2) shortcut — ``component := component's component``, which
    halves every node's distance-to-root, so convergence is O(log D)
    rounds instead of O(D).  Plain propagation needs DIAMETER rounds —
    fine on the bipartite fixture graph (diameter ~4), the slow
    algorithm on a long-path graph; the shortcut is what makes the cap
    safe for long chains (tested on a >2^5-hop path in
    tests/test_graph.py).

    The shortcut self-join runs only on EVERY SECOND round (and never
    on a round whose hook already reached the fixpoint): on
    small-diameter graphs — the common shape after a few rounds of
    hooking — it is pure overhead (VERDICT r05 What's-wrong #4:
    +51% vs plain propagation on the diameter-4 fixture), while the
    alternation still gives a halving every two rounds, keeping
    convergence O(log D) with half the self-joins.  Convergence
    detection stays on the hook phase: its fixpoint (labels constant
    across every edge = component min everywhere) is the answer; the
    shortcut is pure acceleration and is label-stable at that
    fixpoint.
    """
    from smile_spark.session import checkpoint_observed, unpersist_checkpoint

    labels = nodes.select("id", F.col("id").alias("component")).localCheckpoint()
    # Each round's localCheckpoint supersedes the previous one: eager
    # checkpointing materializes the new round BEFORE the old blocks
    # are touched again, so the superseded round releases immediately
    # instead of leaking O(rounds) label tables per invocation into
    # executor storage for the life of the application.  Only the
    # FINAL labels frame stays persisted — callers consume it freely.
    for r in range(max_iter):
        nbr_min = (
            labels.join(e, labels.id == e.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # Carry the changed flag through the same pass so convergence is
        # counted by the checkpoint job itself, not by a second job.
        propagated, seen = checkpoint_observed(
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
                (
                    F.coalesce("nbr_component", "component") < F.col("component")
                ).alias("changed"),
            ),
            keep=("id", "component"),
            n_changed=F.count_if("changed"),
        )
        unpersist_checkpoint(labels)
        labels = propagated
        if seen["n_changed"] == 0:
            break
        if r % 2 == 1:
            jumped = (
                labels.alias("x")
                .join(
                    labels.select(
                        F.col("id").alias("cid"),
                        F.col("component").alias("ccomp"),
                    ).alias("y"),
                    F.col("x.component") == F.col("y.cid"),
                    "left",
                )
                .select(
                    F.col("x.id").alias("id"),
                    F.least(
                        F.col("x.component"),
                        F.coalesce(F.col("ccomp"), F.col("x.component")),
                    ).alias("component"),
                )
            ).localCheckpoint()
            unpersist_checkpoint(labels)
            labels = jumped
    return labels


def connected_components(
    spark: SparkSession, sf_dir: str, max_iter: int = 30
) -> DataFrame:
    """Connected components over the customer-order bipartite graph
    (beyond-reference; licensed by the north star's Pregel-analytics
    direction).  Delegates to :func:`cc_labels` — min-label
    propagation + pointer jumping, O(log D) rounds.
    Returns (id, component)."""
    e = edges(spark, sf_dir, undirected=True).localCheckpoint()
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nodes = (
        customer.select(F.col("c_custkey").alias("id"))
        .union(
            orders.select((F.lit(NODE_OFFSET) + F.col("o_orderkey")).alias("id"))
        )
        # disjoint unique key ranges — already a set, no dedup exchange
    )
    return cc_labels(nodes, e, max_iter)


# ---------------------------------------------------------------------------
# Degree distribution & triangle counting (beyond-reference graph
# analytics licensed by the north star; the reference computes degree
# only implicitly, as the firstNbr-delta scan inside BFS —
# /root/reference/src/regtests/bfsgraph_regtest.cpp:56-84)
# ---------------------------------------------------------------------------


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram of the edge view: (out_degree, n_nodes).

    Two chained hash aggregates (edges→degree, degree→histogram), both
    map-side combined; the second one's input is already #nodes rows,
    so the expensive pass is a single shuffle over the edge set — the
    right shape for a 100 TB edge table.
    """
    e = edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    return deg.groupBy("out_degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


DEGREE_DISTRIBUTION_SQL = (
    "WITH deg AS (SELECT o_custkey AS src, COUNT(*) AS out_degree"
    " FROM orders GROUP BY o_custkey)"
    " SELECT out_degree, COUNT(*) AS n_nodes FROM deg GROUP BY out_degree"
)


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle count over the customer–supplier–nation
    tripartite graph: a triangle is (customer c, supplier s, nation n)
    where c traded with s (some lineitem links them through an order)
    and BOTH belong to n.

    Scale shape: the one big join (lineitem ⋈ orders, shuffle on
    orderkey) reduces immediately to distinct (customer, supplier)
    pairs — the classic project-early move; both dimension joins then
    broadcast.  No cross join anywhere; the triangle closure is an
    equi-join predicate (s_nationkey = c_nationkey), not a filter over
    a pair blow-up.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    trade = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    cn = F.broadcast(customer.select(F.col("c_custkey").alias("ck"), "c_nationkey"))
    sn = F.broadcast(supplier.select(F.col("s_suppkey").alias("sk"), "s_nationkey"))
    return (
        trade.join(cn, "ck")
        .join(sn, "sk")
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


TRIANGLE_COUNT_SQL = (
    "WITH trade AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
    " SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_triangles"
    " FROM trade t"
    " JOIN customer c ON t.ck = c.c_custkey"
    " JOIN supplier s ON t.sk = s.s_suppkey"
    "  AND s.s_nationkey = c.c_nationkey"
    " GROUP BY c.c_nationkey"
)


ROUTE_TOP_FAR = 5


def shortest_path_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path ROUTE reconstruction — the query a routing engine
    actually answers (the reference's README promise,
    /root/reference/README.md:4-5, for which it ships only BFS).

    Two phases, both deterministic because weights and distances are
    integers:

    1. **Shortest-path tree extraction from the distance field**: a
       predecessor per (source, node) is any in-neighbor u with
       dist(u) + w(u,v) = dist(v); ties break to MIN u.  This is a
       join of the sssp distance table with the edge set — decoupled
       from Bellman-Ford's iteration internals, so engines only need
       to agree on the final distances (they do — sssp is
       oracle-exact).
    2. **Backtrack**: targets are each source's ``ROUTE_TOP_FAR``
       FARTHEST reachable nodes (rank by dist desc, ties by id — the
       eccentricity probe, guaranteeing genuinely multi-hop routes);
       follow predecessors ``SSSP_ROUNDS`` steps.  Routes that close
       on their source within the cap are emitted; the same predicate
       filters both engines identically.

    At 100 TB: the pred table is one edges ⋈ dist ⋈ dist equi-join
    chain (shuffles keyed on node id, payload = 3 longs/row); each
    backtrack step joins a #routes-sized frontier against pred —
    frontier ≪ graph, the BFS invariant.  Returns (source, target,
    dist, n_hops, path).
    """
    e = weighted_edges(spark, sf_dir)
    dist = _sssp_field_cached(spark, sf_dir)
    pred = (
        dist.select(
            F.col("source").alias("psource"),
            F.col("id").alias("pid"),
            F.col("dist").alias("ddist"),
        )
        .join(e, F.col("pid") == e.dst)
        .join(
            dist.select(
                F.col("source").alias("usource"),
                F.col("id").alias("uid"),
                F.col("dist").alias("udist"),
            ),
            (F.col("usource") == F.col("psource"))
            & (F.col("uid") == F.col("src")),
        )
        .filter(F.col("udist") + F.col("w") == F.col("ddist"))
        .groupBy("psource", "pid")
        .agg(F.min("uid").alias("pred"))
    ).localCheckpoint()
    wfar = Window.partitionBy("source").orderBy(
        F.desc("dist"), F.asc("id")
    )
    route = (
        dist.filter(F.col("id") != F.col("source"))
        .withColumn("frn", F.row_number().over(wfar))
        .filter(F.col("frn") <= ROUTE_TOP_FAR)
        .select(
            "source",
            F.col("id").alias("target"),
            "dist",
            F.array(F.col("id")).alias("path"),
            F.col("id").alias("cur"),
        )
    )
    for _ in range(SSSP_ROUNDS):
        route = (
            route.join(
                pred,
                (route.source == pred.psource) & (route.cur == pred.pid),
                "left",
            )
            .select(
                "source",
                "target",
                "dist",
                F.when(
                    F.col("pred").isNotNull(),
                    F.concat("path", F.array("pred")),
                )
                .otherwise(F.col("path"))
                .alias("path"),
                F.coalesce("pred", "cur").alias("cur"),
            )
        )
    # Routes whose predecessor chain fails to close on the source
    # within SSSP_ROUNDS backtrack steps (possible: the min-uid pred
    # tie-break can pick a chain with more hops than the walk that
    # realized the capped distance) are NOT dropped — they are emitted
    # with closed=false so a change to the hop cap or tie-break can
    # never silently shrink the result.  Deterministic on both
    # engines: the oracle runs the identical chain walk.
    return route.select(
        "source",
        "target",
        "dist",
        (F.size("path") - 1).cast("bigint").alias("n_hops"),
        F.concat_ws(
            "->",
            F.expr("transform(reverse(path), x -> cast(x as string))"),
        ).alias("path"),
        (F.col("cur") == F.col("source")).alias("closed"),
    )


def shortest_path_route_sql() -> str:
    back = ""
    prev = "r0"
    for i in range(1, SSSP_ROUNDS + 1):
        back += (
            f", r{i} AS (SELECT r.source, r.target, r.dist,"
            "  CASE WHEN p.pred IS NULL THEN r.path"
            "   ELSE list_append(r.path, p.pred) END AS path,"
            "  COALESCE(p.pred, r.cur) AS cur"
            f"  FROM {prev} r LEFT JOIN pred p"
            "  ON p.psource = r.source AND p.pid = r.cur)"
        )
        prev = f"r{i}"
    return (
        "WITH RECURSIVE e AS ("
        "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst,"
        "   CAST(o_orderkey % 97 + 1 AS BIGINT) AS w FROM orders"
        "  UNION ALL"
        "  SELECT 100000 + o_orderkey, o_custkey,"
        "   CAST(o_orderkey % 97 + 1 AS BIGINT) FROM orders"
        "  UNION ALL"
        "  SELECT c_custkey, 200000 + c_nationkey,"
        "   CAST(c_custkey % 53 + 1 AS BIGINT) FROM customer"
        "  UNION ALL"
        "  SELECT 200000 + c_nationkey, c_custkey,"
        "   CAST(c_custkey % 53 + 1 AS BIGINT) FROM customer"
        "),"
        " walk(source, id, dist, hops) AS ("
        "  SELECT CAST(s.source AS BIGINT), CAST(s.source AS BIGINT),"
        "   CAST(0 AS BIGINT), 0"
        f"  FROM (VALUES {_values_sql(SSSP_SOURCES)}) s(source)"
        "  UNION"
        "  SELECT w.source, e.dst, w.dist + e.w, w.hops + 1"
        f"  FROM walk w JOIN e ON e.src = w.id WHERE w.hops < {SSSP_ROUNDS}"
        "),"
        " d AS (SELECT source, id, MIN(dist) AS dist FROM walk"
        "  GROUP BY source, id),"
        " pred AS (SELECT dv.source AS psource, dv.id AS pid,"
        "  MIN(du.id) AS pred"
        "  FROM d dv JOIN e ON e.dst = dv.id"
        "  JOIN d du ON du.source = dv.source AND du.id = e.src"
        "  WHERE du.dist + e.w = dv.dist"
        "  GROUP BY dv.source, dv.id),"
        " far AS (SELECT source, id, dist, ROW_NUMBER() OVER"
        "  (PARTITION BY source ORDER BY dist DESC, id ASC) AS frn"
        "  FROM d WHERE id <> source),"
        " r0 AS (SELECT source, id AS target, dist,"
        "  [id] AS path, id AS cur FROM far"
        f"  WHERE frn <= {ROUTE_TOP_FAR})"
        f"{back}"
        f" SELECT source, target, dist,"
        "  CAST(len(path) - 1 AS BIGINT) AS n_hops,"
        "  array_to_string(list_transform(list_reverse(path),"
        "   x -> CAST(x AS VARCHAR)), '->') AS path,"
        "  cur = source AS closed"
        f" FROM {prev}"
    )


# The distance field is the precomputed artifact every routing query
# shares (the role contraction hierarchies / SP trees play in real
# routing engines): compute it once per application per fixture dir.
# sssp() itself stays uncached — it IS the Bellman-Ford benchmark.
_SSSP_FIELD_CACHE: dict[tuple[str, str], DataFrame] = {}


def _sssp_field_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SSSP_FIELD_CACHE:
        _SSSP_FIELD_CACHE[key] = sssp(spark, sf_dir).localCheckpoint()
    return _SSSP_FIELD_CACHE[key]


# ---------------------------------------------------------------------------
# k-core peel profile
# ---------------------------------------------------------------------------

KCORE_K = 80
KCORE_ROUNDS = 8

# Per-application memo for the undirected part co-purchase edge set
# (u < v): built once, shared by kcore_peel and clustering_coefficient
# — the _SSSP_FIELD_CACHE pattern.  Both consumers still pay their own
# iteration/triangle cost, so the bench still measures their real work.
_COPURCHASE_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _copurchase_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COPURCHASE_EDGE_CACHE:
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        baskets = li.groupBy("ok").agg(
            F.expr("array_sort(collect_set(pk))").alias("ps")
        )
        und = (
            baskets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) ->"
                        " transform(slice(ps, i + 2, size(ps)),"
                        "  y -> struct(x AS p1, y AS p2))))"
                    )
                ).alias("pr")
            )
            .select("pr.p1", "pr.p2")
            .distinct()
            .localCheckpoint()
        )
        _COPURCHASE_EDGE_CACHE[key] = und
    return _COPURCHASE_EDGE_CACHE[key]


_COPURCHASE_DEG_CACHE: dict[tuple[str, str], DataFrame] = {}
_COPURCHASE_ORIENTED_CACHE: dict[tuple[str, str], DataFrame] = {}


def _copurchase_degrees_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected degree of every co-purchase-graph node — the graph's
    node dimension table, computed ONCE per session and shared by every
    degree consumer (clustering_coefficient, degree_assortativity, the
    oriented edge list below).  Checkpointed: it is small (one row per
    part) and read by several broadcast attaches."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COPURCHASE_DEG_CACHE:
        und = _copurchase_edges_cached(spark, sf_dir)
        _COPURCHASE_DEG_CACHE[key] = (
            und.select(F.col("p1").alias("id"))
            .union(und.select(F.col("p2").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint()
        )
    return _COPURCHASE_DEG_CACHE[key]


def _copurchase_oriented_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented co-purchase edge list (a -> b with
    (deg(a), a) < (deg(b), b)) plus deg(b) — the wedge-join input,
    hoisted into a session memo so the two degree-attach broadcasts
    and the orientation checkpoint are paid once per session, not once
    per consumer/run (VERDICT r06 next-round #6)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COPURCHASE_ORIENTED_CACHE:
        und = _copurchase_edges_cached(spark, sf_dir).select(
            F.col("p1").alias("u"), F.col("p2").alias("v")
        )
        deg = _copurchase_degrees_cached(spark, sf_dir)
        # degree attach broadcasts: deg is one row per NODE (20k parts
        # at sf0.1 vs 1.2M edges) — the node dimension is the small
        # side by graph construction.  On a billion-node general graph
        # drop the hints and let AQE fall back to co-partitioned
        # shuffles.
        ed = und.join(
            F.broadcast(
                deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
            ),
            "u",
        ).join(
            F.broadcast(
                deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
            ),
            "v",
        )
        lower_u = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        # checkpointed because all three legs of the wedge+closure join
        # scan it — the degree attach must run once, not three times
        _COPURCHASE_ORIENTED_CACHE[key] = ed.select(
            F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lower_u, F.col("dv")).otherwise(F.col("du")).alias("db"),
        ).localCheckpoint()
    return _COPURCHASE_ORIENTED_CACHE[key]


def clear_copurchase_cache() -> None:
    """Drop the co-purchase edge/degree/oriented session memos AND
    free their checkpointed blocks (the clear_lpa_cache contract).

    Used by the bench's cold ``oriented_build`` loop so the memo
    build the degree/wedge consumers share is priced separately from
    the queries that read it.  Callers must ensure no live consumer
    still holds the old tables (unpersisted checkpoints cannot be
    recomputed); the LPA label memo is safe — it is checkpointed
    independently and never re-reads the edge table."""
    from smile_spark.session import unpersist_checkpoint

    for cache in (
        _COPURCHASE_ORIENTED_CACHE,
        _COPURCHASE_DEG_CACHE,
        _COPURCHASE_EDGE_CACHE,
    ):
        for df in cache.values():
            unpersist_checkpoint(df)
        cache.clear()


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition peel profile of the part co-purchase graph
    (parts adjacent when they share an order): iteratively delete
    nodes with surviving degree < KCORE_K and emit one row per peel
    round — (round, n_dropped, n_alive) — until the KCORE_ROUNDS-round
    budget is spent.  The k-core (Seidman 1983) is the standard
    density screen for community/cohesion analysis; the PROFILE is
    what an operator dashboards (how fast the graph collapses says
    more than the final core alone).

    Determinism across engines: the peel sequence is a pure fixpoint
    iteration — no tie-breaks, no ordering — so a FIXED number of
    unrolled rounds yields identical rows on both engines even when
    convergence lands early (post-convergence rounds emit n_dropped=0
    deterministically).  The DuckDB oracle is the same peel unrolled
    as KCORE_ROUNDS chained CTEs.

    Scale: pair generation is the copurchase in-basket combinations
    shape (quadratic only in basket size).  The peel itself is the
    INCREMENTAL form (r12; the r11 form recomputed every survivor's
    degree from the full edge set each round — O(E) shuffle per
    round): the loop maintains a per-node surviving-degree table, and
    each round drops the below-K nodes and DECREMENTS survivors by
    their edges into the dropped set — exactly the recount by
    induction (the oracle unrolls the recount and pins equality), but
    the per-round shuffle is proportional to the edges INCIDENT TO
    JUST-DROPPED nodes, so total peel work is O(E) across ALL rounds
    instead of O(E x rounds).  The dropped set is small per round —
    AQE broadcasts it into the semi/anti joins, so the edge table is
    scanned but never reshuffled.  localCheckpoint cuts per-round
    lineage exactly like bfs/pagerank; rounds are bounded by the
    budget, not the graph.
    """
    from smile_spark.session import checkpoint_observed, unpersist_checkpoint

    und = _copurchase_edges_cached(spark, sf_dir)
    edges = (
        und.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .union(und.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
        .localCheckpoint()
    )
    deg, seen = checkpoint_observed(
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("u").alias("id"), "deg"),
        n=F.count(F.lit(1)),
    )
    n_prev = seen["n"]
    rows: list[tuple[int, int, int]] = []
    for r in range(1, KCORE_ROUNDS + 1):
        # the dropped set is derived INLINE from the checkpointed
        # degree table (a node-sized scan per consumer beats a
        # dedicated checkpoint job per round)
        dropped = deg.filter(F.col("deg") < KCORE_K).select("id")
        if r == KCORE_ROUNDS:
            # budget exhausted: only the count is needed
            n_drop = dropped.count()
            rows.append((r, n_drop, n_prev - n_drop))
            break
        # decrement survivors by their edges into the dropped set;
        # a survivor whose degree reaches 0 keeps its row (0 < K, so
        # it drops next round — same timing as the full recount,
        # where it would simply vanish from the degree aggregate)
        dec = (
            edges.join(
                dropped.withColumnRenamed("id", "v"), "v", "semi"
            )
            .join(dropped.withColumnRenamed("id", "u"), "u", "left_anti")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .select(F.col("u").alias("id"), "d")
        )
        # ONE job per round: the checkpoint materialization counts the
        # survivors as it goes (new_deg excludes the dropped set by
        # construction)
        new_deg, seen = checkpoint_observed(
            deg.join(dropped, "id", "left_anti")
            .join(dec, "id", "left")
            .select(
                "id",
                (F.col("deg") - F.coalesce("d", F.lit(0))).alias("deg"),
            ),
            n=F.count(F.lit(1)),
        )
        n_now = seen["n"]
        n_drop = n_prev - n_now
        rows.append((r, n_drop, n_now))
        # superseded state is consumed (cc_labels precedent)
        unpersist_checkpoint(deg)
        deg, n_prev = new_deg, n_now
        if n_drop == 0:
            # converged: every later round deterministically drops 0 —
            # emit the remaining profile rows as literals instead of
            # running no-op rounds (driver sees counts only, never
            # data; the fixed-budget output contract is unchanged)
            rows.extend(
                (rr, 0, n_now) for rr in range(r + 1, KCORE_ROUNDS + 1)
            )
            break
    # the returned profile is driver-built from the counted rows, so
    # the degree state and the per-call edge materialization are
    # unreachable yet persisted — release both instead of leaking one
    # frame pair per invocation (ADVICE r11 #3)
    unpersist_checkpoint(deg)
    unpersist_checkpoint(edges)
    return spark.createDataFrame(
        rows, "round bigint, n_dropped bigint, n_alive bigint"
    )


def kcore_peel_sql() -> str:
    """Oracle: the identical peel unrolled as chained CTEs.  Every CTE
    is MATERIALIZED — each a{r} is referenced three times (both join
    sides of a{r+1} plus the profile counts), and DuckDB's default
    CTE inlining re-evaluates per reference, which turns the chain
    exponential (the un-hinted form did not finish at sf0.001;
    materialized it is 0.1 s)."""
    parts = [
        "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
        "  l_partkey AS pk FROM lineitem),",
        " und AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v"
        "  FROM lp a JOIN lp b"
        "  ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),",
        " e AS MATERIALIZED (SELECT u, v FROM und"
        "  UNION ALL SELECT v, u FROM und),",
        " a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM e)",
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f", a{r} AS MATERIALIZED (SELECT e.u AS id FROM e"
            f" JOIN a{r - 1} x ON e.u = x.id"
            f" JOIN a{r - 1} y ON e.v = y.id"
            f" GROUP BY e.u HAVING COUNT(*) >= {KCORE_K})"
        )
    sels = [
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" CAST((SELECT COUNT(*) FROM a{r - 1})"
        f"  - (SELECT COUNT(*) FROM a{r}) AS BIGINT) AS n_dropped,"
        f" CAST((SELECT COUNT(*) FROM a{r}) AS BIGINT) AS n_alive"
        for r in range(1, KCORE_ROUNDS + 1)
    ]
    return "".join(parts) + " " + " UNION ALL ".join(sels)


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the part
    co-purchase graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the
    Watts–Strogatz cohesion measure, the per-node refinement of a
    global triangle count.

    Triangle enumeration is DEGREE-ORIENTED edge-local adjacency
    intersection (the "compact-forward" algorithm, Latapy 2008 /
    Ortmann–Brandes orientation): each undirected edge is directed
    from its lower (degree, id) endpoint to its higher one; per-node
    sorted out-neighbor arrays are collected once (out-degree bounded
    O(sqrt(m)) by the orientation, so arrays stay small even on
    power-law graphs — max 97 at sf0.1); and each ORIENTED EDGE
    (a, b) closes |N+(a) ∩ N+(b)| triangles via one JVM
    array_intersect — every triangle found exactly once.  Per-node
    counts come from ONE flatten-explode per edge (a and b each get
    +|common|, every c in common gets +1), so the only exploded
    volume is 3x the TRIANGLE count (5.7M rows at sf0.1) — the
    previous wedge self-join shuffled the full 41M-row wedge table
    into the closing join and cost ~5 s; this shape runs the same
    enumeration map-side in ~2 s and scales with edges + triangles,
    never wedges.  The out-neighbor table is one row per node (the
    graph's node dimension, same class as the degree attach in
    _copurchase_oriented_cached) — broadcast at fixture scale, gated
    on ``spark.smile.graph.broadcastAdjacency`` (default true): set
    it false on a billion-node graph and both attaches run as
    co-partitioned shuffle joins with no code edit (ADVICE r10 — a
    hard hint would otherwise attempt the build regardless of size).

    Returns (part, deg, n_tri, cc) for every node of the graph.
    """
    deg = _copurchase_degrees_cached(spark, sf_dir)
    # oriented edge a -> b with (deg(a), a) < (deg(b), b), from the
    # session memo shared with every other degree/wedge consumer
    o = _copurchase_oriented_cached(spark, sf_dir)
    adj = o.groupBy("a").agg(F.array_sort(F.collect_list("b")).alias("nbr"))
    bcast_adj = (
        spark.conf.get("spark.smile.graph.broadcastAdjacency", "true")
        == "true"
    )
    _hint = F.broadcast if bcast_adj else (lambda df: df)
    withc = (
        o.select("a", "b")
        .join(
            _hint(
                adj.select("a", F.col("nbr").alias("na_arr"))
            ),
            "a",
        )
        .join(
            _hint(
                adj.select(
                    F.col("a").alias("b"), F.col("nbr").alias("nb_arr")
                )
            ),
            "b",
        )
        .select(
            "a", "b", F.array_intersect("na_arr", "nb_arr").alias("common")
        )
    )
    tri = (
        withc.select(
            F.explode(
                F.expr(
                    "flatten(array(array_repeat(a, size(common)),"
                    " array_repeat(b, size(common)), common))"
                )
            ).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tri, "id", "left")
        .select(
            F.col("id").alias("part"),
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg").cast("double") * (F.col("deg") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cc"),
        )
    )


CLUSTERING_COEFFICIENT_SQL = (
    "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
    "  l_partkey AS pk FROM lineitem),"
    " und AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v"
    "  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),"
    " deg AS (SELECT id, COUNT(*) AS deg FROM ("
    "  SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY id),"
    " tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c"
    "  FROM und e1 JOIN und e2 ON e1.v = e2.u"
    "  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),"
    " pertri AS (SELECT id, COUNT(*) AS n_tri FROM ("
    "  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri"
    "  UNION ALL SELECT c FROM tri) GROUP BY id)"
    " SELECT deg.id AS part, CAST(deg.deg AS BIGINT) AS deg,"
    " CAST(COALESCE(pertri.n_tri, 0) AS BIGINT) AS n_tri,"
    " ROUND(CASE WHEN deg.deg >= 2 THEN"
    "  2.0 * COALESCE(pertri.n_tri, 0)"
    "   / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1))"
    "  ELSE 0.0 END, 6) AS cc"
    " FROM deg LEFT JOIN pertri ON pertri.id = deg.id"
)


# ---------------------------------------------------------------------------
# Personalized PageRank (teleport to a source set)
# ---------------------------------------------------------------------------

PPR_SOURCE_MOD = 100  # teleport set: customers with c_custkey % MOD == 0


def personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = PAGERANK_ITERS,
) -> DataFrame:
    """Personalized PageRank over the undirected customer-order graph:
    the random surfer teleports to a fixed SOURCE SET (customers with
    ``c_custkey % PPR_SOURCE_MOD == 0``) instead of everywhere — the
    recommendation / similar-entities primitive (rank concentrates
    around the sources; global PageRank is the uniform-teleport
    special case).

    Same Pregel shape and same cross-engine determinism device as
    :func:`pagerank`: contributions pushed along edges (one join +
    one aggregate per round), ranks ROUNDED to 8 digits at every
    iteration boundary on both engines so float summation-order drift
    cannot accumulate.  The teleport vector is a pure function of the
    node id, so no extra state moves; at 100 TB the per-round cost is
    identical to PageRank's (one edge join, one aggregate), and many
    source sets amortize over the same cached degree-edge table.
    Returns (id, ppr).
    """
    e = edges(spark, sf_dir, undirected=True)
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nodes = (
        customer.select(F.col("c_custkey").alias("id"))
        .union(
            orders.select(
                (F.lit(NODE_OFFSET) + F.col("o_orderkey")).alias("id")
            )
        )
        .localCheckpoint()
    )
    n_src = float(
        customer.filter(
            F.col("c_custkey") % PPR_SOURCE_MOD == 0
        ).count()
    )
    if n_src == 0:
        # an empty teleport set makes PPR undefined (division by the
        # source count); fail with a defined error instead of a
        # ZeroDivisionError at plan time on filtered/fixture inputs
        raise ValueError(
            "personalized_pagerank: no customer satisfies the teleport"
            f" predicate c_custkey % {PPR_SOURCE_MOD} == 0"
        )
    is_src = (F.col("id") % PPR_SOURCE_MOD == 0) & (
        F.col("id") < NODE_OFFSET
    )
    tele = F.when(is_src, F.lit(1.0 / n_src)).otherwise(F.lit(0.0))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    ed = e.join(deg, "src").localCheckpoint()

    pr = nodes.select("id", tele.alias("ppr"))
    from smile_spark.session import unpersist_checkpoint

    prev = None  # round 0 is a lazy select over nodes, not a checkpoint
    for _ in range(iterations):
        sums = (
            pr.join(ed, pr.id == ed.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("ppr") / F.col("d")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        pr = (
            nodes.join(sums, "id", "left")
            .select(
                "id",
                F.round(
                    (1.0 - PAGERANK_DAMPING) * tele
                    + PAGERANK_DAMPING * F.coalesce("c", F.lit(0.0)),
                    PAGERANK_ROUND,
                ).alias("ppr"),
            )
            .localCheckpoint()
        )
        # release the superseded round (cc_labels precedent)
        if prev is not None:
            unpersist_checkpoint(prev)
        prev = pr
    return pr


def personalized_pagerank_sql() -> str:
    """Unrolled oracle: one CTE per iteration, identical teleport
    vector and rounding points."""
    tele = (
        f"(CASE WHEN nodes.id % {PPR_SOURCE_MOD} = 0"
        f" AND nodes.id < {NODE_OFFSET}"
        " THEN 1.0 / ns.ns ELSE 0.0 END)"
    )
    prev = "it0"
    its = []
    for k in range(1, PAGERANK_ITERS + 1):
        its.append(
            f" it{k} AS (SELECT nodes.id,"
            f" ROUND({1.0 - PAGERANK_DAMPING} * {tele}"
            f" + {PAGERANK_DAMPING} * COALESCE(s.c, 0),"
            f" {PAGERANK_ROUND}) AS ppr"
            " FROM nodes CROSS JOIN ns LEFT JOIN ("
            f"  SELECT ed.dst AS id, SUM({prev}.ppr / ed.d) AS c"
            f"  FROM {prev} JOIN ed ON ed.src = {prev}.id GROUP BY ed.dst"
            " ) s ON s.id = nodes.id)"
        )
        prev = f"it{k}"
    return (
        "WITH e AS ("
        f"  SELECT o_custkey AS src, {NODE_OFFSET} + o_orderkey AS dst"
        "   FROM orders"
        "  UNION ALL"
        f"  SELECT {NODE_OFFSET} + o_orderkey AS src, o_custkey AS dst"
        "   FROM orders"
        "),"
        " nodes AS (SELECT c_custkey AS id FROM customer"
        f"  UNION SELECT {NODE_OFFSET} + o_orderkey FROM orders),"
        " ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM customer"
        f"  WHERE c_custkey % {PPR_SOURCE_MOD} = 0),"
        " deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d"
        "  FROM e GROUP BY src),"
        " ed AS (SELECT e.src, e.dst, deg.d FROM e"
        "  JOIN deg ON deg.src = e.src),"
        " it0 AS (SELECT nodes.id,"
        f" {tele} AS ppr FROM nodes CROSS JOIN ns),"
        + ",".join(its)
        + f" SELECT id, ppr FROM it{PAGERANK_ITERS}"
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman's r)
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-ROW degree-assortativity coefficient of the part co-purchase
    graph: Newman's r — the Pearson correlation of endpoint degrees
    over all directed edge stubs, the standard "do hubs connect to
    hubs?" structure diagnostic (positive = assortative social-style
    mixing, negative = hub-and-spoke).

    Determinism: degrees are exact integers; r is assembled from SIX
    exact BIGINT moment sums (n, Σx, Σy, Σxy, Σx², Σy² — the
    corr_stats device), so both engines divide identical integers and
    only the final coefficient rounds to 6.  The moment products stay
    far below 2^63 (degrees ≤ ~10⁴ on this graph family).

    Scale: one degree aggregate (map-side combined), one broadcast
    attach of the node-dimension degree table onto the edge list
    (the clustering_coefficient argument), then a single partial/final
    moment aggregate — no row ever shuffles besides the degree
    groupBy.  Emits (n_edges, assortativity).
    """
    und = _copurchase_edges_cached(spark, sf_dir).select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    )
    # both directions: each undirected edge contributes two stubs
    stubs = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # stub out-degree == undirected degree — reuse the session memo
    deg = _copurchase_degrees_cached(spark, sf_dir)
    ed = stubs.join(
        F.broadcast(
            deg.select(F.col("id").alias("u"), F.col("deg").alias("dx"))
        ),
        "u",
    ).join(
        F.broadcast(
            deg.select(F.col("id").alias("v"), F.col("deg").alias("dy"))
        ),
        "v",
    )
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sy").cast("double") / n
    )
    denx = F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double") / n
    )
    deny = F.col("syy").cast("double") - (
        F.col("sy").cast("double") * F.col("sy").cast("double") / n
    )
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(num / F.sqrt(denx * deny), 6).alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_SQL = (
    "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
    "  l_partkey AS pk FROM lineitem),"
    " und AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v"
    "  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),"
    " stubs AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),"
    " deg AS (SELECT u, COUNT(*) AS d FROM stubs GROUP BY u),"
    " ed AS (SELECT dx.d AS dx, dy.d AS dy FROM stubs"
    "  JOIN deg dx ON dx.u = stubs.u JOIN deg dy ON dy.u = stubs.v),"
    " m AS (SELECT COUNT(*) AS n, SUM(dx) AS sx, SUM(dy) AS sy,"
    "  SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy"
    "  FROM ed)"
    " SELECT n AS n_edges,"
    " ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    "   / CAST(n AS DOUBLE))"
    "  / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    "    / CAST(n AS DOUBLE))"
    "   * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    "    / CAST(n AS DOUBLE))), 6) AS assortativity"
    " FROM m"
)


# ---------------------------------------------------------------------------
# Link prediction: Adamic-Adar over the co-purchase graph
# ---------------------------------------------------------------------------

AA_SEED_MOD = 97   # deterministic seed set: part % MOD == 0
AA_TOP_K = 10


def link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``AA_TOP_K`` NEW-link recommendations per seed part by
    Adamic-Adar score over the co-purchase graph: for seed q and
    candidate c not already adjacent, AA(q,c) = sum over common
    neighbors a of 1/ln(deg(a)) — the classic link-prediction /
    item-recommendation primitive (Adamic & Adar 2003; "customers who
    bought X also bought" with hub discounting).

    Scale shape: scoring runs for a SEED SET (part % AA_SEED_MOD == 0
    — the deterministic stand-in for "active items"), so the wedge
    work is the seeds' two-hop neighborhoods, never the global
    apex-degree-squared explosion: one equi-join seeds→neighbors, one
    neighbors→candidates, a broadcast degree attach (the session-
    memoized degree table), one anti-join to drop existing edges, and
    a per-seed TakeOrdered.  Exactly the recsys batch-scoring shape at
    100 TB — cost ∝ seed traffic, not graph size.

    Determinism: each 1/ln(deg) term is an identical double in both
    engines (libm log), quantized to DECIMAL(18,12) before the sum so
    the per-pair score is order-independent (the token_entropy/bm25
    device); ranking rounds to 6 digits, ties break on candidate id.
    deg(a) >= 2 whenever a is a common neighbor of two distinct
    nodes, so ln never hits zero.  Emits (q, c, n_common, aa_score).
    """
    und = _copurchase_edges_cached(spark, sf_dir)
    stubs = und.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).union(und.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    deg = _copurchase_degrees_cached(spark, sf_dir)
    seed_edges = stubs.filter(F.col("u") % AA_SEED_MOD == 0).select(
        F.col("u").alias("q"), F.col("v").alias("a")
    )
    hops = (
        seed_edges.join(
            stubs.select(F.col("u").alias("a"), F.col("v").alias("c")),
            "a",
        )
        .filter(F.col("c") != F.col("q"))
        .join(
            # semi-join the node-degree dimension down to seed-touched
            # neighbors BEFORE broadcasting: the broadcast is then
            # bounded by seed traffic, not by the full node dimension
            # (which grows with the graph — VERDICT r07 next-round #8)
            F.broadcast(
                deg.select(F.col("id").alias("a"), "deg").join(
                    seed_edges.select("a").distinct(), "a", "left_semi"
                )
            ),
            "a",
        )
        .withColumn(
            "term",
            F.round(1.0 / F.log(F.col("deg").cast("double")), 12).cast(
                "decimal(18,12)"
            ),
        )
    )
    # drop pairs that are already edges (both directions are in stubs)
    new_links = hops.join(
        stubs.select(F.col("u").alias("q"), F.col("v").alias("c")),
        ["q", "c"],
        "left_anti",
    )
    scored = new_links.groupBy("q", "c").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.round(F.sum("term").cast("double"), 6).alias("aa_score"),
    )
    w = Window.partitionBy("q").orderBy(
        F.desc("aa_score"), F.asc("c")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= AA_TOP_K)
        .select(
            "q",
            "c",
            F.col("n_common").cast("bigint").alias("n_common"),
            "aa_score",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


LINK_PREDICTION_AA_SQL = (
    "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
    "  l_partkey AS pk FROM lineitem),"
    " und AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v"
    "  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),"
    " stubs AS MATERIALIZED (SELECT u, v FROM und"
    "  UNION ALL SELECT v, u FROM und),"
    " deg AS (SELECT u AS id, COUNT(*) AS deg FROM stubs GROUP BY u),"
    f" seeds AS (SELECT u AS q, v AS a FROM stubs WHERE u % {AA_SEED_MOD} = 0),"
    " hops AS (SELECT s.q, st.v AS c,"
    "  CAST(ROUND(1.0 / ln(CAST(d.deg AS DOUBLE)), 12) AS DECIMAL(18,12))"
    "   AS term"
    "  FROM seeds s JOIN stubs st ON st.u = s.a"
    "  JOIN deg d ON d.id = s.a"
    "  WHERE st.v <> s.q),"
    " new_links AS (SELECT h.q, h.c, h.term FROM hops h"
    "  WHERE NOT EXISTS (SELECT 1 FROM stubs e"
    "   WHERE e.u = h.q AND e.v = h.c)),"
    " scored AS (SELECT q, c, COUNT(*) AS n_common,"
    "  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS aa_score"
    "  FROM new_links GROUP BY q, c),"
    " ranked AS (SELECT q, c, n_common, aa_score, ROW_NUMBER() OVER"
    "  (PARTITION BY q ORDER BY aa_score DESC, c ASC) AS rn FROM scored)"
    " SELECT q, c, CAST(n_common AS BIGINT) AS n_common, aa_score,"
    f" CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= {AA_TOP_K}"
)


# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3

# Per-application memo for the final LPA label table: built once,
# shared by label_propagation and graph_modularity (the
# _COPURCHASE_DEG_CACHE pattern) so the 3 synchronous rounds run once
# per session instead of once per consumer (VERDICT r07 next-round #4).
_LPA_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}
# every localCheckpoint the LPA build creates (stubs + per-round label
# tables, not just the final one), so clear_lpa_cache can release the
# block-manager storage a discarded build left behind (ADVICE r08 #4)
_LPA_CHECKPOINTS: list[DataFrame] = []


def clear_lpa_cache() -> None:
    """Drop the LPA label memo AND free its checkpointed blocks.

    The bench's cold ``lpa_build`` loop rebuilds the memo from
    scratch; clearing only the dict would leak every discarded
    build's localCheckpoint blocks in executor storage for the rest
    of the application.  Callers must ensure no live consumer still
    holds the old label table (unpersisted checkpoints cannot be
    recomputed)."""
    from smile_spark.session import unpersist_checkpoint

    for df in _LPA_CHECKPOINTS:
        unpersist_checkpoint(df)
    _LPA_CHECKPOINTS.clear()
    _LPA_LABELS_CACHE.clear()


def _lpa_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LPA_LABELS_CACHE:
        und = _copurchase_edges_cached(spark, sf_dir)
        stubs = (
            und.select(F.col("p1").alias("u"), F.col("p2").alias("v"))
            .union(
                und.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
            )
            .localCheckpoint()
        )
        _LPA_CHECKPOINTS.append(stubs)
        labels = stubs.select(F.col("u").alias("id")).distinct().select(
            "id", F.col("id").alias("lbl")
        ).localCheckpoint()
        w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lbl"))
        from smile_spark.session import unpersist_checkpoint

        for _ in range(LPA_ROUNDS):
            new_labels = (
                stubs.join(
                    labels.select(F.col("id").alias("v"), "lbl"), "v"
                )
                .groupBy(F.col("u").alias("id"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("id", "lbl")
                .localCheckpoint()
            )
            # the superseded round is fully consumed (eager checkpoint
            # materialized) — release now instead of holding every
            # round's table until the next clear_lpa_cache
            unpersist_checkpoint(labels)
            labels = new_labels
        # only the FINAL label table outlives the build (plus stubs,
        # registered above) — the memo clear releases them
        _LPA_CHECKPOINTS.append(labels)
        _LPA_LABELS_CACHE[key] = labels
    return _LPA_LABELS_CACHE[key]


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the co-purchase graph by SYNCHRONOUS label
    propagation (Raghavan et al. 2007): start every node at its own
    id, then for a fixed ``LPA_ROUNDS`` rounds each node adopts the
    most frequent label among its neighbors, ties to the SMALLEST
    label — the determinism rule that makes fixed-round LPA identical
    on any engine (asynchronous/random-order LPA is not reproducible;
    the min-label tie-break plays the role the random permutation does
    in the paper).  Complements connected_components: components find
    reachability, LPA finds dense cores inside one component.

    Scale: each round is one stubs ⋈ labels equi-join, a (node, label)
    partial/final count, and a per-node rank-1 window — all keyed
    shuffles; ``localCheckpoint`` per round cuts the lineage exactly
    like bfs/pagerank, and the round count is a budget, not a
    convergence gamble.  The label table itself is a session memo
    shared with graph_modularity.  Emits (part, community).
    """
    labels = _lpa_labels_cached(spark, sf_dir)
    return labels.select(
        F.col("id").alias("part"), F.col("lbl").alias("community")
    )


def label_propagation_sql() -> str:
    """Oracle: the identical synchronous rounds unrolled as chained
    MATERIALIZED CTEs (the kcore_peel device — each round is
    referenced by the next, and DuckDB's default inlining would
    re-evaluate per reference)."""
    parts = [
        "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
        "  l_partkey AS pk FROM lineitem),",
        " und AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v"
        "  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk"
        "  GROUP BY 1, 2),",
        " stubs AS MATERIALIZED (SELECT u, v FROM und"
        "  UNION ALL SELECT v, u FROM und),",
        " l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl"
        "  FROM stubs)",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f", l{r} AS MATERIALIZED (SELECT id, lbl FROM ("
            "  SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id"
            "   ORDER BY c DESC, lbl ASC) AS rn FROM ("
            "   SELECT st.u AS id, p.lbl, COUNT(*) AS c"
            f"   FROM stubs st JOIN l{r - 1} p ON p.id = st.v"
            "   GROUP BY st.u, p.lbl)) WHERE rn = 1)"
        )
    return (
        "".join(parts)
        + f" SELECT id AS part, lbl AS community FROM l{LPA_ROUNDS}"
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-ROW Newman modularity Q of the label-propagation
    communities on the co-purchase graph — the standard "did the
    community detection find real structure?" score (Q > 0 means more
    intra-community edges than a random degree-preserving graph):
    Q = sum_c [ e_c/m - (d_c/2m)^2 ].

    Determinism: everything reduces to three exact BIGINT sums —
    m (edges), sum_c e_c (intra-community edges), and sum_c d_c^2
    (squared community degree mass) — each cast to double BEFORE the
    products so Q = (4*m*sum_e - sum_d2) / (4*m*m) never overflows
    int64 (BIGINT 4*m*m wraps past ~1.5e9 edges; the double products
    round identically in both engines because the multiplication
    order is the same, and any precision loss is absorbed by the
    ROUND to 6).  No per-community floating sum, so no
    summation-order hazard.

    Scale: two label-keyed equi-joins (both endpoints against the
    SESSION-MEMOIZED label table — the 3 LPA rounds are shared with
    label_propagation, not re-run), one degree join (the memoized
    degree table), three tiny aggregates.  Emits (n_communities,
    n_edges, modularity)."""
    labels = _lpa_labels_cached(spark, sf_dir)
    und = _copurchase_edges_cached(spark, sf_dir)
    intra = (
        und.join(
            labels.select(F.col("id").alias("p1"), F.col("lbl").alias("l1")),
            "p1",
        )
        .join(
            labels.select(F.col("id").alias("p2"), F.col("lbl").alias("l2")),
            "p2",
        )
        .filter(F.col("l1") == F.col("l2"))
        .agg(F.count(F.lit(1)).alias("sum_e"))
    )
    deg = _copurchase_degrees_cached(spark, sf_dir)
    dmass = (
        deg.join(labels, "id")
        .groupBy("lbl")
        .agg(F.sum("deg").alias("dc"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            F.sum(F.col("dc") * F.col("dc")).alias("sum_d2"),
        )
    )
    m = und.agg(F.count(F.lit(1)).alias("m"))
    return (
        intra.crossJoin(dmass)
        .crossJoin(m)
        .select(
            "n_communities",
            F.col("m").cast("bigint").alias("n_edges"),
            F.round(
                (
                    F.lit(4.0) * F.col("m").cast("double")
                    * F.col("sum_e").cast("double")
                    - F.col("sum_d2").cast("double")
                )
                / (
                    F.lit(4.0) * F.col("m").cast("double")
                    * F.col("m").cast("double")
                ),
                6,
            ).alias("modularity"),
        )
    )


def graph_modularity_sql() -> str:
    """Oracle: the unrolled LPA rounds (label_propagation_sql's CTE
    chain) plus the same exact-integer modularity assembly."""
    lpa = label_propagation_sql()
    # reuse the CTE chain; replace the final SELECT with modularity math
    head = lpa[: lpa.rindex(" SELECT id AS part")]
    return (
        head
        + f", lab AS MATERIALIZED (SELECT id, lbl FROM l{LPA_ROUNDS}),"
        " deg AS (SELECT u AS id, COUNT(*) AS deg FROM stubs GROUP BY u),"
        " intra AS (SELECT COUNT(*) AS sum_e FROM und"
        "  JOIN lab a ON a.id = und.u JOIN lab b ON b.id = und.v"
        "  WHERE a.lbl = b.lbl),"
        " dmass AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,"
        "  SUM(dc * dc) AS sum_d2 FROM ("
        "  SELECT l.lbl, SUM(d.deg) AS dc FROM deg d"
        "  JOIN lab l ON l.id = d.id GROUP BY l.lbl)),"
        " me AS (SELECT COUNT(*) AS m FROM und)"
        " SELECT n_communities, CAST(m AS BIGINT) AS n_edges,"
        " ROUND((4.0 * CAST(m AS DOUBLE) * CAST(sum_e AS DOUBLE)"
        "   - CAST(sum_d2 AS DOUBLE))"
        "  / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)"
        "  AS modularity"
        " FROM intra, dmass, me"
    )
